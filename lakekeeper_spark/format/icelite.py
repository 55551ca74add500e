"""icelite: a parquet-backed snapshot table format driven by the catalog.

The reference serves Iceberg metadata and lets engines write parquet +
manifests directly to object storage (SURVEY.md §3.2). With no Iceberg
connector jar available offline, icelite reproduces the same architecture
Spark-first:

  - data files: parquet under <table-location>/data/<commit-uuid>/...,
    written by Spark executors (optionally partitionBy partition-spec
    transforms);
  - manifests: per-snapshot file lists with per-file stats, stored INLINE
    in the table metadata JSON (at 100 TB these would be parquet sidecar
    manifests and the list a second level — the commit/TableUpdate flow is
    unchanged, only the manifest payload moves out-of-line);
  - commits: every mutation is AddSnapshot + SetSnapshotRef TableUpdates
    through the catalog's optimistic-concurrency commit engine
    (reference: server/commit_tables.rs) with assert-ref-snapshot-id as
    the conflict guard — a losing racer gets CommitFailedException exactly
    like an Iceberg REST commit.

Query surface provided (reference test_spark.py parity):
  append/overwrite, DELETE FROM / UPDATE in BOTH row-level modes —
  copy-on-write (only affected files rewritten) and merge-on-read
  (position-delete tombstones, Iceberg v2) — MERGE INTO (composite keys,
  semi-join file targeting), rewrite_position_deletes, snapshot
  management (rollback_to_snapshot, cherry_pick, write-audit-publish
  staging), time travel (snapshot id / timestamp / tag / branch),
  incremental scan_changes, tags+branches (+max-ref-age retention),
  schema evolution (add/drop/rename column, type widening — field-id
  reads), partition evolution (identity/bucket/truncate/year/month/day),
  sort orders applied at write, SET/UNSET/SHOW TBLPROPERTIES,
  rewrite_data_files compaction, expire_snapshots, remove_orphan_files,
  ANALYZE statistics, REFRESH metadata cache, scan reports, and the
  metadata tables (files / snapshots / refs / history / partitions /
  all_data_files / all_delete_files / all_entries / all_manifests /
  metadata_log_entries).
"""

from __future__ import annotations

import contextlib
import json
import logging
import os
import time
import uuid
from pathlib import Path
from typing import Any, Callable, Iterable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from ..catalog.catalog import Catalog, CatalogError, NoSuchEntity, NotModified
from ..functions.localframe import local_df
from .iceberg_manifests import manifest_entries
from .types import (
    _SPARK_TO_ICEBERG as _ICEBERG_PRIM,
)
from .types import (
    _iceberg_type_of,
    _parse_type,
    next_field_id,
    is_legacy_schema,
    schema_to_struct,
    spark_ddl_of,
)

MAIN = "main"

_log = logging.getLogger(__name__)


def _now_ms() -> int:
    return int(time.time() * 1000)


def _zvalue_expr(cols: list[str], bits: int = 21) -> str:
    """Morton/Z-value of up to 3 non-negative integer columns as a pure
    JVM expression: bit b of column i lands at position b*len(cols)+i.
    21 bits per column keeps 3 columns inside a signed 64-bit long."""
    if not 1 <= len(cols) <= 3:
        raise CatalogError("zorder_by takes 1-3 columns")
    n = len(cols)
    terms = [
        f"shiftleft(CAST(shiftright(CAST({c} AS BIGINT), {b}) & 1 AS BIGINT),"
        f" {b * n + i})"
        for b in range(bits)
        for i, c in enumerate(cols)
    ]
    return "(" + " + ".join(terms) + ")"


#: manifest-level bloom filters: one bitmap per configured column per
#: data file, stored base64 in the manifest entry — planning-time file
#: skipping for EQUALITY predicates on high-cardinality columns where
#: min/max bounds can't discriminate (an id spread uniformly across
#: files overlaps every file's range). Each file's bitmap AUTO-SIZES to
#: its distinct count: positions are hashed once at the power-of-two cap
#: _BLOOM_CAP_BITS and downsized to the smallest power of two >=
#: _BLOOM_BITS_PER_VALUE * ndv (valid because m_small divides m_cap, so
#: pos % m_small == hash % m_small) — ~10 bits/value with k=6 holds FPP
#: near 1% at any file size up to the ndv cap, where the bloom is
#: skipped entirely (a saturated bitmap prunes nothing and only bloats
#: the manifest).
_BLOOM_CAP_BITS = 1 << 20
_BLOOM_BITS_PER_VALUE = 10
_BLOOM_MIN_BITS = 1024
_BLOOM_MAX_NDV = 100_000
_BLOOM_K = 6


def _bloom_pack(positions: set[int], m: int) -> str:
    import base64

    bits = bytearray((m + 7) // 8)
    for p in positions:
        bits[p >> 3] |= 1 << (p & 7)
    return base64.b64encode(bytes(bits)).decode()


# Bloom sidecar slice cache: bitmaps are immutable once written (fresh
# uuid path per commit), so (path, offset) keys a packed bitmap slice.
_BLOOM_SLICE_CACHE: dict[tuple[str, int], bytes] = {}
_BLOOM_SLICE_CACHE_MAX = 1024


def _bloom_bits_of(bloom: dict[str, Any]) -> bytes | None:
    """The packed bitmap for one (file, column) bloom ref: a base64
    inline payload (pre-round-16 metadata) or a ranged read of the
    Puffin sidecar at (path, offset, length) — the probe-time analogue
    of an object-store ranged GET, cached per slice. Unreadable
    sidecars keep the file (superset contract)."""
    raw = bloom.get("bits")
    if raw is not None:
        import base64

        return base64.b64decode(raw)
    path, off, length = bloom.get("path"), bloom.get("offset"), bloom.get("length")
    if path is None or off is None or length is None:
        return None
    key = (path, int(off))
    hit = _BLOOM_SLICE_CACHE.get(key)
    if hit is not None:
        return hit
    try:
        with open(path, "rb") as f:
            f.seek(int(off))
            bits = f.read(int(length))
    except OSError:
        return None
    if len(bits) != int(length):
        # truncated/scorched sidecar: a short slice would IndexError in
        # the probe — keep the file instead (superset contract), and
        # don't cache the bad read
        return None
    if len(_BLOOM_SLICE_CACHE) >= _BLOOM_SLICE_CACHE_MAX:
        _BLOOM_SLICE_CACHE.pop(next(iter(_BLOOM_SLICE_CACHE)))
    _BLOOM_SLICE_CACHE[key] = bits
    return bits


def _bloom_might_contain(bloom: dict[str, Any], raw_hashes: list[int]) -> bool:
    """True unless some probe position's bit is unset. ``raw_hashes`` are
    the k signed xxhash64 values of the probe; positions derive per
    bloom via % m (matches the writer's pmod)."""
    m = int(bloom["m"])
    bits = _bloom_bits_of(bloom)
    if bits is None:
        return True  # unreadable bitmap: keep the file, never wrongly skip
    for h in raw_hashes:
        p = h % m
        if not bits[p >> 3] >> (p & 7) & 1:
            return False
    return True


def _bloom_keep(
    entry: dict[str, Any], probes: dict[str, list[int]]
) -> bool:
    """Keep the file unless some probed column's bloom PROVES the value
    absent. Files without a bloom for the column are kept (safe,
    superset contract — same shape as _bounds_overlap)."""
    blooms = entry.get("bloom") or {}
    for col, raw_hashes in probes.items():
        b = blooms.get(col)
        if b is not None and not _bloom_might_contain(b, raw_hashes):
            return False
    return True


def _fresh_names(df: DataFrame, *bases: str) -> list[str]:
    """Temp-column names guaranteed absent from ``df`` — any operator
    that adds working columns to a USER frame must pick them this way,
    or a user column with the same name is silently replaced (the
    round-15 bloom 'f' collision class)."""
    taken = set(df.columns)
    out: list[str] = []
    for b in bases:
        n, i = b, 0
        while n in taken:
            i += 1
            n = f"{b}_{i}"
        taken.add(n)
        out.append(n)
    return out


def _null_safe_semi(left: DataFrame, keys: DataFrame, cols: list[str]) -> DataFrame:
    """LEFT SEMI join on ``cols`` with NULL keys MATCHING (eqNullSafe) —
    the comparison equality-delete application uses: a NULL key value in
    a delete file kills live rows whose column is NULL, so any victim
    derivation must match the same way (a plain name-list join drops
    NULL join keys and under-reports)."""
    k = keys.alias("__k")
    l = left.alias("__l")
    cond = None
    for c in cols:
        cnd = F.col(f"__l.{c}").eqNullSafe(F.col(f"__k.{c}"))
        cond = cnd if cond is None else cond & cnd
    return l.join(k, cond, "left_semi")


def _bounds_overlap(entry: dict[str, Any], stats_filter: dict[str, tuple]) -> bool:
    """Keep the file unless some filtered column's bounds are disjoint with
    the requested [lo, hi] range. Missing bounds keep the file (safe)."""
    bounds = entry.get("bounds") or {}
    for col, (lo, hi) in stats_filter.items():
        b = bounds.get(col)
        if b is None:
            continue
        bmin, bmax = b
        if (hi is not None and bmin > hi) or (lo is not None and bmax < lo):
            return False
    return True


_DELETE_KINDS = ("position-deletes", "equality-deletes", "deletion-vectors")

# Max deletion-vector blobs per Puffin container: a commit whose delete
# touches more referenced data files shards into multiple containers
# (one writer task each) instead of funnelling every compressed bitmap
# through a single task (round-7 verdict watch item).
_DV_BLOBS_PER_CONTAINER = 512
# At or below this total tombstone cardinality a positioned scan inlines
# the (file, pos) set as a literal anti-filter (driver-decoded, one
# expression) instead of building a broadcast anti-join per action; the
# bound keeps the compiled plan small (an IN-list of a few thousand longs).
_DV_INLINE_POS_MAX = 8192
# Same idea for small equality-delete artifacts: key tuples driver-read
# via pyarrow and shipped as a literal struct IN-list (an InSet probe,
# O(1) per row like the hash join it replaces). Gated tight: beyond this
# row count — or for non-exactly-renderable key types or NULL keys —
# the sequence-aware broadcast anti-join path applies unchanged.
_EQ_INLINE_ROWS_MAX = 512
_EQ_INLINE_TYPES = {"int", "long", "short", "byte", "string", "boolean"}


def _write_dv_containers(
    out_dir: str,
    encoded: list[tuple[str, bytes, int]],
    snapshot_id: int,
    seq: int,
) -> list[dict[str, Any]]:
    """Write (referenced file, dv payload, cardinality) triples as Puffin
    containers under ``out_dir`` and return one metadata row per
    container. The one container writer: the driver DV lane calls it
    directly, the distributed lane inside each writer task.

    Sorted file order, at most _DV_BLOBS_PER_CONTAINER blobs per
    container — a HARD bound: repartitionByRange balances by sampling,
    so a skewed partition can exceed it, and chunking here keeps the
    memory bound independent of sampling accuracy (round-8 ADVICE).
    On any failure the containers written so far are deleted, and
    ``out_dir`` too once empty, so a failed lane leaves no orphaned
    ``.puffin`` file behind."""
    from lakekeeper_spark.format.dv import write_deletion_vector_blobs

    encoded = sorted(encoded, key=lambda t: t[0])
    rows: list[dict[str, Any]] = []
    written: list[str] = []
    try:
        for i in range(0, len(encoded), _DV_BLOBS_PER_CONTAINER):
            chunk = encoded[i : i + _DV_BLOBS_PER_CONTAINER]
            os.makedirs(out_dir, exist_ok=True)
            cpath = os.path.join(out_dir, f"dv-{uuid.uuid4().hex[:12]}.puffin")
            written.append(cpath)
            size, layout = write_deletion_vector_blobs(
                cpath, chunk, snapshot_id=snapshot_id, sequence_number=seq
            )
            rows.append(
                {
                    "path": cpath,
                    "size": size,
                    "record_count": sum(c for _, _, c in chunk),
                    "layout": json.dumps({fp: list(v) for fp, v in layout.items()}),
                }
            )
    except BaseException:
        for p in written:
            with contextlib.suppress(OSError):
                os.remove(p)
        with contextlib.suppress(OSError):
            os.rmdir(out_dir)
        raise
    return rows


def _split_manifest(
    manifest: list[dict[str, Any]],
) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    """Split a snapshot manifest into (data entries, delete entries).
    Iceberg manifests carry a content field per file (0=data, 1=position
    deletes, 2=equality deletes; v3 adds puffin deletion vectors);
    icelite stores the same discriminator as a ``content`` string on
    delete entries: position-deletes / equality-deletes /
    deletion-vectors."""
    data = [e for e in manifest if e.get("content", "data") == "data"]
    dels = [e for e in manifest if e.get("content") in _DELETE_KINDS]
    return data, dels


# ---------------------------------------------------------------------
# out-of-line manifests: a snapshot carries a ``manifests`` descriptor
# list; entries live in immutable Avro manifest files that unchanged
# commits REUSE (format/iceberg_manifests.py store layer). Every reader
# goes through these helpers.
# ---------------------------------------------------------------------
def snapshot_manifests(snap: dict[str, Any] | None) -> list[dict[str, Any]]:
    return (snap or {}).get("manifests") or []


def snapshot_entries(snap: dict[str, Any] | None) -> list[dict[str, Any]]:
    """The snapshot's full file inventory, lazily loaded from its
    manifest files (process-wide cache; immutable paths) with v3
    first-row-id inheritance materialized per manifest descriptor.
    Returned entry dicts are SHARED across callers — treat as
    read-only; copy before mutating."""
    return [e for d in snapshot_manifests(snap) for e in manifest_entries(d)]


def snapshot_delete_entries(snap: dict[str, Any] | None) -> list[dict[str, Any]]:
    """Only the snapshot's DELETE artifacts — opens only delete-content
    manifests (the common planner need: tombstones are few; the data
    inventory stays unopened)."""
    return [
        e
        for d in snapshot_manifests(snap)
        if d.get("content") == "deletes"
        for e in manifest_entries(d)
    ]


def snapshot_file_count(snap: dict[str, Any] | None) -> int:
    """Total entry count (data + deletes) straight from descriptor sums —
    no manifest is opened."""
    return sum(
        d.get("added-files-count", 0) + d.get("existing-files-count", 0)
        for d in snapshot_manifests(snap)
    )


def _data_totals(descs: list[dict[str, Any]]) -> tuple[int, int]:
    """(data files, records) of the data manifests among ``descs`` —
    descriptor sums, no manifest opened."""
    data = [d for d in descs if d.get("content") == "data"]
    return (
        sum(d.get("added-files-count", 0) + d.get("existing-files-count", 0) for d in data),
        sum(d.get("added-rows-count", 0) + d.get("existing-rows-count", 0) for d in data),
    )


def snapshot_split_pruned(
    snap: dict[str, Any] | None,
    partition_filter: dict[str, Any] | None = None,
    stats_filter: dict[str, tuple] | None = None,
) -> tuple[list[dict[str, Any]], list[dict[str, Any]], int]:
    """(data entries from manifests the filters can't prove empty,
    ALL delete entries, true total data-file count). Manifest-level
    pruning: a point/range query on an out-of-range manifest never
    opens it — the read-path payoff of out-of-line manifests at scale.
    Callers still apply the per-entry filters to the surviving data
    entries (descriptor summaries are manifest-granular supersets)."""
    from .iceberg_manifests import descriptor_keep

    data: list[dict[str, Any]] = []
    dels: list[dict[str, Any]] = []
    total = 0
    for d in snapshot_manifests(snap):
        if d.get("content") == "deletes":
            dels.extend(manifest_entries(d))
            continue
        total += d.get("added-files-count", 0) + d.get("existing-files-count", 0)
        if descriptor_keep(d, partition_filter, stats_filter):
            data.extend(manifest_entries(d))
    return data, dels, total


def diff_snapshots(
    parent: dict[str, Any] | None, snap: dict[str, Any]
) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    """(entries added by ``snap``, entries removed from ``parent``) by
    path — O(changed manifests): manifests common to both sides cannot
    contribute to either set, so they are never opened."""
    if parent is None:
        return snapshot_entries(snap), []
    p_paths = {d["path"] for d in snapshot_manifests(parent)}
    s_paths = {d["path"] for d in snapshot_manifests(snap)}
    p_ents = [
        e
        for d in snapshot_manifests(parent)
        if d["path"] not in s_paths
        for e in manifest_entries(d)
    ]
    s_ents = [
        e
        for d in snapshot_manifests(snap)
        if d["path"] not in p_paths
        for e in manifest_entries(d)
    ]
    pp = {e["path"] for e in p_ents}
    sp = {e["path"] for e in s_ents}
    return (
        [e for e in s_ents if e["path"] not in pp],
        [e for e in p_ents if e["path"] not in sp],
    )



def _store_cast(col: F.Column, typ: DataType, name: str) -> F.Column:
    """The one type rule: ``col`` as it is stored in column ``name`` of
    declared type ``typ``. ANSI CAST semantics whatever
    spark.sql.ansi.enabled says: a fraction truncates, and a non-NULL
    value the cast cannot carry (out of range, not a number) fails the
    write instead of wrapping or turning NULL."""
    cast = col.try_cast(typ)
    return F.when(
        col.isNotNull() & cast.isNull(),
        F.raise_error(
            F.lit(f"value of column {name!r} does not fit its declared type {typ.simpleString()}")
        ),
    ).otherwise(cast)


def _insert_cols(
    schema: dict[str, Any], source_cols: list[str]
) -> list[F.Column]:
    """Projection for MERGE's not-matched INSERT branch: schema columns
    the source omits fill with their v3 write-default (or NULL) instead
    of failing analysis — SQL INSERT semantics for unspecified columns.
    (Write-side analogue: _write_files fills omitted writer columns
    with a declared write-default and leaves the rest ABSENT from the
    file, which reads back NULL — same observable policy.) Source
    columns resolve case-insensitively (exact name wins), matching
    Spark's default resolution, and a REQUIRED column with no default
    is refused loudly instead of silently writing spec-invalid NULLs.
    The source side resolves through the ``s`` alias so a target
    column of the same name can't capture it. Each source column is
    cast to its declared type (_store_cast) here, before the inserts
    meet the updated images in a union that would otherwise coerce
    both sides to a common, possibly lossy, type."""
    struct = schema_to_struct(schema)
    types = {f.name: f.dataType for f in struct.fields}
    exact = set(source_cols)
    folded = {}
    for c in source_cols:
        folded.setdefault(c.lower(), c)
    out = []
    for f in schema["fields"]:
        c = f["name"]
        s_name = c if c in exact else folded.get(c.lower())
        if s_name is not None:
            out.append(_store_cast(F.col(f"s.{s_name}"), types[c], c).alias(c))
        elif f.get("required") and f.get("write-default") is None:
            raise CatalogError(
                f"MERGE insert: source omits required column {c!r} "
                "which has no write-default"
            )
        else:
            out.append(
                F.lit(f.get("write-default")).cast(types[c]).alias(c)
            )
    return out


def _main_lineage(
    meta: dict[str, Any], from_id: int | None, to_id: int | None
) -> list[dict[str, Any]]:
    """The snapshots in (``from_id``, ``to_id``], oldest first, walked by
    parent pointer from ``to_id``; ``from_id`` None means table creation.

    ``from_id`` itself may have been expired while its child was
    retained: the child's parent POINTER marks the boundary, so a
    checkpointed stream keeps running after its offset snapshot expires.
    History expired anywhere else in the range raises — diffing the
    oldest survivor against an empty parent would re-emit carried files
    as inserts of the wrong commit — and so does a ``from_id`` that is
    not an ancestor of ``to_id`` (rolled back or never existed), which
    would otherwise replay the whole history as duplicate events."""
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    out: list[dict[str, Any]] = []
    cur = by_id.get(to_id)
    while cur is not None and cur["snapshot-id"] != from_id:
        out.append(cur)
        pid = cur.get("parent-snapshot-id")
        if pid is None or pid == from_id:
            break
        cur = by_id.get(pid)
        if cur is None:
            since = "table creation" if from_id is None else f"snapshot {from_id}"
            raise ValueError(
                f"snapshot history expired at {pid}: changes since {since} "
                "cannot be reconstructed — pass a retained from_snapshot_id"
            )
    boundary = out[-1].get("parent-snapshot-id") if out else to_id
    if from_id is not None and boundary != from_id:
        raise ValueError(
            f"from snapshot {from_id} is not an ancestor of {to_id} on the "
            "main lineage (rolled back or never existed)"
        )
    out.reverse()
    return out


def _commit_diff(
    by_id: dict[int, dict[str, Any]], s: dict[str, Any]
) -> tuple[dict[str, Any] | None, list[dict[str, Any]], list[dict[str, Any]]]:
    """(parent, entries added by ``s``, entries removed from the parent)
    for a commit of a _main_lineage walk. A parent that was expired (the
    ``from`` boundary the walk lets through) cannot be diffed against:
    an append's added files are still known — the entries stamped with
    its own sequence number, the manifest writer's ADDED rule — but any
    other commit may remove files or mask rows only the parent held, so
    it raises rather than report the files it carries as its inserts."""
    pid = s.get("parent-snapshot-id")
    parent = by_id.get(pid)
    if pid is None or parent is not None:
        return (parent, *diff_snapshots(parent, s))
    if s["summary"].get("operation") != "append":
        raise ValueError(
            f"parent {pid} of {s['summary'].get('operation')!r} snapshot "
            f"{s['snapshot-id']} expired: its changes cannot be "
            "reconstructed — pass a retained from_snapshot_id"
        )
    seq = s["sequence-number"]
    return None, [e for e in snapshot_entries(s) if e.get("sequence-number", seq) == seq], []


def _removed_masks(
    removed: list[dict[str, Any]], parent_deletes: list[dict[str, Any]]
) -> list[dict[str, Any]]:
    """The parent's delete artifacts that can ADDRESS one of the
    ``removed`` data files: positional/DV entries whose referenced-files
    intersect the removed paths (entries without the summary are kept —
    they may address anything), and equality deletes whose sequence
    number can gate a removed file (strictly newer than the oldest one;
    seq-less entries default to 0 in every consumer and never fire). A
    rewrite touching 3 of 100k DV-carrying files masks with ~3 entries."""
    paths = {e["path"] for e in removed}
    min_seq = min(e.get("sequence-number", 0) for e in removed)
    return [
        d
        for d in parent_deletes
        if (
            d.get("sequence-number", 0) > min_seq
            if d.get("content") == "equality-deletes"
            else d.get("referenced-files") is None
            or not paths.isdisjoint(d["referenced-files"])
        )
    ]


def plan_changes(
    meta: dict[str, Any], from_id: int | None, to_id: int | None
) -> list[dict[str, Any]]:
    """PURE change planning: the row-level change events of every
    main-lineage commit in (``from_id``, ``to_id``] as change GROUPS —
    no Spark, no data file opened. SparkTable.changelog reads each group
    with one _live_rows read; the streaming change feed turns each into
    file scan tasks. A group is ``change`` ('insert' | 'delete'),
    ``snapshot-id`` (the commit), ``entries`` (data files) read with the
    ``deletes`` that mask them, ``schema-id`` (write schema of entries
    that carry none) and at most one restriction:

      - ``include-pos`` = (new positional artifacts, restated ones): only
        the ordinals the commit newly tombstones — v3 consolidated
        vectors re-state prior positions, which are subtracted;
      - ``include-eq`` = one new equality-delete entry: only the rows
        matching its keys.

    Per commit: added data files are inserts; removed data files are
    deletes of their rows live at the parent (masked by the parent
    artifacts that address them, _removed_masks); new positional
    artifacts delete the parent rows they newly address (candidates
    narrowed by ``referenced-files``); each new equality delete deletes
    the parent-live rows of strictly older files that match it.
    ``replace`` commits (compaction) change no row and are skipped."""
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    groups: list[dict[str, Any]] = []
    for s in _main_lineage(meta, from_id, to_id):
        if s["summary"].get("operation") == "replace":
            continue
        # descriptor-level diff: manifests shared with the parent never open
        parent, added, removed = _commit_diff(by_id, s)
        added_data, added_dels = _split_manifest(added)
        removed_data, removed_dels = _split_manifest(removed)
        psid = parent.get("schema-id") if parent else None

        def group(change, entries, deletes, schema_id, **restriction):
            if entries:
                groups.append({
                    "change": change,
                    "snapshot-id": s["snapshot-id"],
                    "entries": entries,
                    "deletes": deletes,
                    "schema-id": schema_id,
                    **restriction,
                })

        group("insert", added_data, [], s.get("schema-id"))
        if parent is None:
            continue
        p_dels = snapshot_delete_entries(parent) if removed_data or added_dels else []
        if removed_data:
            group("delete", removed_data, _removed_masks(removed_data, p_dels), psid)
        if not added_dels:
            continue
        # content work: the parent's rows are read anyway, so loading its
        # data inventory is not the cost
        p_data = _split_manifest(snapshot_entries(parent))[0]
        pos_added = [e for e in added_dels if e.get("content") != "equality-deletes"]
        if pos_added:
            # artifacts without referenced-files may address any file
            refs = [e.get("referenced-files") for e in pos_added]
            addressed = None if None in refs else set().union(*refs)
            restated = [e for e in removed_dels if e.get("content") != "equality-deletes"]
            group(
                "delete",
                [e for e in p_data if addressed is None or e["path"] in addressed],
                [],
                psid,
                **{"include-pos": (pos_added, restated)},
            )
        for eq in (e for e in added_dels if e.get("content") == "equality-deletes"):
            seq = eq.get("sequence-number", 0)
            group(
                "delete",
                [e for e in p_data if e.get("sequence-number", 0) < seq],
                p_dels,
                psid,
                **{"include-eq": eq},
            )
    return groups


def plan_lineage_events(
    meta: dict[str, Any],
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
) -> list[dict[str, Any]]:
    """PURE metadata-only CDC planning (v3 row lineage): per main-lineage
    commit in (from, to], classify how its (_row_id, _change_type)
    events can be produced — no Spark, no file IO, so the REST facade
    can serve it directly. Each commit plan carries:

    - ``insert-ranges``: [start, end] row-id ranges from plain added
      files' claimed [first-row-id, +record-count) (events derivable
      with zero reads);
    - ``insert-file-entries``: added files that MATERIALIZE lineage
      columns (MoR update/merge images, preserved rewrites) — a consumer
      opens exactly these, never the parent state;
    - ``delete-ranges``: the commit summary's bounded
      deleted-row-id-ranges (MoR DELETE/UPDATE/MERGE + equality deletes
      record them; see _row_id_ranges);
    - ``targeted-diff``: True for pure CoW rewrite commits (files
      removed, no tombstones added) — delete events come from reading
      EXACTLY the removed files (``delete-file-entries``, masked by the
      parent's tombstone artifacts in ``delete-mask-entries`` read at
      ``parent-schema-id``), insert events from the added files' claimed
      ranges / materialized entries as usual. The parent STATE is never
      scanned: a CoW rewrite touching 3 of 100k files opens 3 files, not
      the table. Check this flag BEFORE content-fallback;
    - ``content-fallback``: True when a consumer without the commit's
      richer keys must produce it via the full changelog — always
      correct, just not targeted. Targeted-diff commits carry BOTH
      flags so round-14 consumers (which predate the targeted-diff
      keys) keep emitting exact events; rewrites that ALSO add
      tombstones in the same commit, and tombstones that recorded no
      ranges (oversized delete / pre-range commit), carry only
      content-fallback with ranges/file lists omitted.

    SparkTable.changelog_row_ids() consumes exactly this plan; the
    ``lineage-events`` streaming source mirrors it per micro-batch."""
    if meta.get("format-version", 2) < 3:
        raise ValueError(
            "lineage events require format-version >= 3 "
            f"(table is v{meta.get('format-version', 2)})"
        )
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if to_snapshot_id is None:
        r = meta.get("refs", {}).get("main")
        to_snapshot_id = r["snapshot-id"] if r else None
    plans: list[dict[str, Any]] = []
    for s in _main_lineage(meta, from_snapshot_id, to_snapshot_id):
        if s["summary"].get("operation") == "replace":
            continue
        sid = s["snapshot-id"]
        pid = s.get("parent-snapshot-id")
        # descriptor-level diff: manifests shared with the parent are
        # never opened, so a 3-file rewrite on a 100k-file table plans
        # from O(changed manifests), not O(table)
        parent, added, removed = _commit_diff(by_id, s)
        added_data, added_dels = _split_manifest(added)
        removed_data = _split_manifest(removed)[0]
        del_ranges = s["summary"].get("deleted-row-id-ranges")
        plan: dict[str, Any] = {
            "snapshot-id": sid,
            "parent-snapshot-id": pid,
            "schema-id": s.get("schema-id"),
        }
        if removed_data and not added_dels:
            # pure CoW rewrite: delete events need only the REMOVED
            # files' rows (live at the parent — its tombstone artifacts
            # mask already-dead rows), never the parent state; insert
            # events fall through to the shared range/entry handling.
            # content-fallback STAYS True: a consumer that predates the
            # targeted-diff keys (round-14 wire contract) must keep
            # producing this commit via the full changelog — always
            # exact, just not targeted. Consumers that understand
            # targeted-diff check it FIRST and skip the fallback.
            plan["content-fallback"] = True
            plan["targeted-diff"] = True
            plan["delete-file-entries"] = removed_data
            # only delete-content manifests of the parent open here
            plan["delete-mask-entries"] = _removed_masks(
                removed_data, snapshot_delete_entries(parent)
            )
            plan["parent-schema-id"] = (
                parent.get("schema-id") if parent else None
            )
        elif removed_data or (added_dels and not del_ranges):
            plan["content-fallback"] = True
            plans.append(plan)
            continue
        else:
            plan["content-fallback"] = False
        ins_ranges: list[list[int]] = []
        opened: list[dict[str, Any]] = []
        for e in added_data:
            n = int(e.get("record-count", 0))
            if (
                e.get("first-row-id") is not None
                and not e.get("materialized-row-ids")
            ):
                if n:
                    frid = int(e["first-row-id"])
                    ins_ranges.append([frid, frid + n - 1])
            else:
                opened.append(e)
        plan["insert-ranges"] = ins_ranges
        plan["insert-file-entries"] = opened
        plan["delete-ranges"] = (
            [[int(a), int(b)] for a, b in del_ranges]
            if added_dels and del_ranges
            else []
        )
        plans.append(plan)
    return plans


def file_scan_task(
    e: dict[str, Any],
    pos_like: list[dict[str, Any]],
    eq_dels: list[dict[str, Any]],
) -> dict[str, Any]:
    """One FILE SCAN TASK for a data entry: the single source of truth
    for the per-file tombstone-matching rules and the task dict shape —
    positional/DV artifacts attach when their ``referenced-files`` set
    names the file (entries without the summary attach everywhere —
    safe, never wrong); equality deletes attach with a sequence number
    STRICTLY greater than the data file's (spec sequence semantics).
    Used by plan_table_scan (whole-snapshot plans) and the streaming
    source's targeted-diff branch (change-sized plans)."""
    return {
        "data-file": {
            "path": e["path"],
            "record-count": e.get("record-count", 0),
            "file-size-in-bytes": e.get("file-size-in-bytes", 0),
            "partition": e.get("partition", {}),
            "sequence-number": e.get("sequence-number", 0),
            "schema-id": e.get("schema-id"),
            # present only when the entry carries one: consumers .get()
            # it, and omitting the key keeps round-14 scan-plan wire
            # payloads byte-identical for pre-v3 tables (round-15 ADVICE)
            **(
                {"first-row-id": e["first-row-id"]}
                if e.get("first-row-id") is not None
                else {}
            ),
        },
        "position-delete-files": [
            {"path": d["path"], "record-count": d.get("record-count", 0)}
            for d in pos_like
            if d.get("referenced-files") is None
            or e["path"] in d["referenced-files"]
        ],
        "equality-delete-files": [
            {
                "path": d["path"],
                "record-count": d.get("record-count", 0),
                "equality-ids": d.get("equality-ids", []),
                "sequence-number": d.get("sequence-number", 0),
                "schema-id": d.get("schema-id"),
            }
            for d in eq_dels
            if e.get("sequence-number", 0) < d.get("sequence-number", 0)
        ],
    }


def plan_table_scan(
    meta: dict[str, Any],
    snapshot_id: int | None = None,
    ref: str | None = None,
    partition_filter: dict[str, Any] | None = None,
    stats_filter: dict[str, tuple] | None = None,
    point_filter_hashes: dict[str, list[int]] | None = None,
) -> dict[str, Any]:
    """Server-side scan planning — the Iceberg REST PlanTableScan the
    reference declares but leaves unimplemented
    (crates/lakekeeper/src/api/endpoints.rs:126-135): resolve the
    snapshot, prune by partition values and column bounds, and emit one
    FILE SCAN TASK per surviving data file with exactly the delete
    artifacts a reader must anti-join:

      - position-deletes / deletion-vectors whose referenced-files set
        names the data file (tombstones address files directly; entries
        without the referenced-files summary attach everywhere — safe,
        never wrong);
      - equality-deletes with a sequence number STRICTLY greater than
        the data file's (spec sequence semantics).

    Pure metadata computation — no data file is opened, so the endpoint
    is O(manifest) however large the table; the client (a whole Spark
    cluster or a single-file reader) fans the tasks out itself."""
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if snapshot_id is None:
        r = meta.get("refs", {}).get(ref or "main")
        if r is None:
            return {"snapshot-id": None, "plan-tasks": []}
        snapshot_id = r["snapshot-id"]
    snap = snaps.get(snapshot_id)
    if snap is None:
        raise KeyError(f"snapshot {snapshot_id} not found")
    # manifest-level pruning first: descriptor summaries (partition
    # value sets, aggregated bounds) skip WHOLE manifest files before a
    # single entry is read — the server stays O(surviving manifests)
    data, deletes, total = snapshot_split_pruned(
        snap, partition_filter, stats_filter
    )
    if partition_filter:
        data = [
            e
            for e in data
            if all(
                str(e.get("partition", {}).get(k)) == str(v)
                for k, v in partition_filter.items()
            )
        ]
    if stats_filter:
        data = [e for e in data if _bounds_overlap(e, stats_filter)]
    if point_filter_hashes:
        # manifest bloom pruning for equality probes. The PLANNER can't
        # hash (xxhash64 is engine-side); the CLIENT supplies the k raw
        # xxhash64 values per probed column (SparkTable._bloom_probes) —
        # the same split as Iceberg REST, where the client serializes
        # its predicates. Files without a bloom are kept (superset
        # contract, like bounds).
        data = [e for e in data if _bloom_keep(e, point_filter_hashes)]
    pos_like = [d for d in deletes if d.get("content") != "equality-deletes"]
    eq_dels = [d for d in deletes if d.get("content") == "equality-deletes"]
    tasks = [file_scan_task(e, pos_like, eq_dels) for e in data]
    return {
        "snapshot-id": snapshot_id,
        "total-data-files": total,
        "pruned-data-files": total - len(data),
        "plan-tasks": tasks,
    }


def pair_update_images(
    changes: DataFrame, identifier_columns: list[str], strict: bool = False
) -> DataFrame:
    """Iceberg create_changelog_view(identifier_columns=...) update pairing
    over a changelog frame (`_change_type`, `_commit_snapshot_id` + data
    columns) — works on the batch changelog AND on a change-feed
    micro-batch (the streaming planner never splits a commit across
    batches, so per-commit grouping is complete in-batch):

      1. carry-over removal: within a commit, delete+insert rows identical
         in EVERY data column cancel pairwise (a CoW rewrite restates each
         surviving row as delete+insert; those are not logical changes);
      2. update pairing: a remaining delete+insert sharing the identifier
         tuple within the commit retags as update_preimage /
         update_postimage. Keys with multiple residual deletes or inserts
         in one commit are left as plain delete/insert rows (Iceberg
         raises on ambiguous identifiers; this engine degrades to the
         unpaired form instead of failing the scan). ``strict=True``
         opts into reference parity: ambiguous identifier groups raise
         ValueError like Iceberg's create_changelog_view does.

    Scale shape: two window passes, both hash-partitioned by
    (commit, columns) — no unpartitioned window, no driver state. The
    strict check is a filtered LIMIT-1 existence probe, not a count."""
    from pyspark.sql.window import Window

    data_cols = [
        c
        for c in changes.columns
        if c not in ("_change_type", "_commit_snapshot_id")
    ]
    ct = F.col("_change_type")
    cid = "_commit_snapshot_id"
    # temp names picked fresh against the frame: a USER column named
    # _rn/_n_del/... must not be silently replaced
    rn, ndel, nins, kdel, kins = _fresh_names(
        changes, "_rn", "_n_del", "_n_ins", "_k_del", "_k_ins"
    )
    # 1. pairwise-cancel identical full rows: the k-th delete cancels the
    # k-th insert of the same (commit, full-row) group, so only the excess
    # of the more numerous side survives
    w_full = Window.partitionBy(cid, *data_cols, "_change_type").orderBy(F.lit(1))
    w_row = Window.partitionBy(cid, *data_cols)
    is_del = F.when(ct == "delete", 1).otherwise(0)
    is_ins = F.when(ct == "insert", 1).otherwise(0)
    tagged = (
        changes.withColumn(rn, F.row_number().over(w_full))
        .withColumn(ndel, F.sum(is_del).over(w_row))
        .withColumn(nins, F.sum(is_ins).over(w_row))
    )
    survivors = tagged.filter(
        ((ct == "delete") & (F.col(rn) > F.col(nins)))
        | ((ct == "insert") & (F.col(rn) > F.col(ndel)))
        | (~ct.isin("delete", "insert"))
    ).drop(rn, ndel, nins)
    # 2. retag exactly-one-delete + exactly-one-insert identifier groups
    w_key = Window.partitionBy(cid, *identifier_columns)
    k = survivors.withColumn(kdel, F.sum(is_del).over(w_key)).withColumn(
        kins, F.sum(is_ins).over(w_key)
    )
    paired = (F.col(kdel) == 1) & (F.col(kins) == 1)
    if strict:
        ambiguous = k.filter(
            ct.isin("delete", "insert")
            & (F.col(kdel) + F.col(kins) > 1)
            & ~paired
        )
        sample = ambiguous.select(*identifier_columns).limit(1).collect()
        if sample:
            ident = {c: sample[0][c] for c in identifier_columns}
            raise ValueError(
                "ambiguous changelog identifier group (multiple residual "
                f"deletes or inserts in one commit) for {ident}; Iceberg "
                "create_changelog_view raises here — pass strict=False to "
                "degrade to unpaired delete/insert rows"
            )
    return k.withColumn(
        "_change_type",
        F.when(paired & (ct == "delete"), F.lit("update_preimage"))
        .when(paired & (ct == "insert"), F.lit("update_postimage"))
        .otherwise(ct),
    ).drop(kdel, kins)


def net_changes(
    changes: DataFrame, commit_order: dict[int, int] | None = None
) -> DataFrame:
    """Iceberg create_changelog_view(net_changes => true): collapse the
    changelog to the NET change per unique row content across the WHOLE
    snapshot range (Iceberg's RemoveNetCarryoverIterator semantics):

      - a row inserted then deleted inside the range disappears;
      - a row deleted then restated identically in a later commit (a
        cross-commit carry-over) disappears;
      - survivors keep their original _change_type and
        _commit_snapshot_id, with the LATEST occurrences surviving (the
        k-th-earliest delete cancels the k-th-earliest identical insert
        — the same rank-pairing kernel pair_update_images uses within a
        commit, partitioned WITHOUT the commit column and ordered by
        commit position).

    Like Iceberg, net mode cannot combine with update-image pairing —
    callers enforce that (changelog() raises).

    ``commit_order`` maps snapshot-id -> lineage ordinal (snapshot ids
    are unordered random longs); without it, ids order by value.

    Scale shape: two window passes hash-partitioned by the row content —
    no unpartitioned window, no driver state beyond the metadata-sized
    ordinal map (broadcast)."""
    from pyspark.sql.window import Window

    data_cols = [
        c
        for c in changes.columns
        if c not in ("_change_type", "_commit_snapshot_id")
    ]
    rn, ndel, nins, ordc = _fresh_names(
        changes, "_rn", "_n_del", "_n_ins", "_ord"
    )
    if commit_order:
        spark = changes.sparkSession
        omap = local_df(spark, 
            [(int(s), int(i)) for s, i in commit_order.items()],
            f"_commit_snapshot_id long, {ordc} int",
        )
        changes = changes.join(F.broadcast(omap), "_commit_snapshot_id", "left")
        changes = changes.withColumn(
            ordc, F.coalesce(F.col(ordc), F.lit(2**31 - 1))
        )
    else:
        changes = changes.withColumn(ordc, F.col("_commit_snapshot_id"))
    ct = F.col("_change_type")
    w_side = Window.partitionBy(*data_cols, "_change_type").orderBy(
        ordc, "_commit_snapshot_id"
    )
    w_row = Window.partitionBy(*data_cols)
    is_del = F.when(ct == "delete", 1).otherwise(0)
    is_ins = F.when(ct == "insert", 1).otherwise(0)
    tagged = (
        changes.withColumn(rn, F.row_number().over(w_side))
        .withColumn(ndel, F.sum(is_del).over(w_row))
        .withColumn(nins, F.sum(is_ins).over(w_row))
    )
    return tagged.filter(
        ((ct == "delete") & (F.col(rn) > F.col(nins)))
        | ((ct == "insert") & (F.col(rn) > F.col(ndel)))
        | (~ct.isin("delete", "insert"))
    ).drop(rn, ndel, nins, ordc)


# alias for call sites where a `net_changes` keyword shadows the function
_net_changes_fn = net_changes


def _next_seq(meta: dict[str, Any]) -> int:
    """Next data sequence number (Iceberg spec: assigned per commit,
    monotonically increasing; equality deletes apply to strictly-older
    sequences)."""
    return (
        max((s.get("sequence-number", 0) for s in meta.get("snapshots", [])), default=0)
        + 1
    )


def _local_path(uri: str) -> str:
    """The local file path of a file URI as Spark reports it
    (percent-encoded)."""
    return unquote(urlparse(uri).path)


def _file_bounds(md) -> dict[str, list]:
    """Per-column [min, max] from the parquet footer (Iceberg manifests
    carry lower/upper bounds per data file; this is the icelite analogue).
    Only JSON-safe scalar stats are kept — enough for numeric/string
    range skipping."""
    bounds: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            try:
                lo, hi = st.min, st.max
            except Exception:
                # pyarrow can't cast stats for every physical/logical
                # type combination (e.g. decimal-as-INT32) — bounds are
                # a skipping optimization, never required
                continue
            if isinstance(lo, bytes) or isinstance(hi, bytes):
                continue
            if not isinstance(lo, (int, float, str)) or not isinstance(
                hi, (int, float, str)
            ):
                continue
            name = col.path_in_schema
            if name in bounds:
                bounds[name] = [min(bounds[name][0], lo), max(bounds[name][1], hi)]
            else:
                bounds[name] = [lo, hi]
    return bounds


class SparkTable:
    """Handle to one icelite table: Spark for data, Catalog for metadata."""

    def __init__(self, spark: SparkSession, catalog: Catalog, warehouse: str, levels, name: str):
        self.spark = spark
        self.catalog = catalog
        self.warehouse = warehouse
        self.levels = tuple(levels)
        self.name = name
        # engine-side metadata cache: (etag, metadata). Models the moka
        # metadata cache in front of the reference catalog — scans reuse it
        # until refresh() revalidates or a local mutation invalidates.
        self._meta_cache: tuple[int, dict[str, Any]] | None = None

    # ---------------- metadata helpers ----------------
    def metadata(self) -> dict[str, Any]:
        meta, _ = self.catalog.load_table(self.warehouse, self.levels, self.name)
        return meta

    def metadata_cached(self) -> dict[str, Any]:
        """Cached metadata: loaded once, reused until refresh()/mutation.

        A concurrent writer's commit is NOT visible through this handle
        until refresh() — the REFRESH TABLE lifecycle of an engine-side
        metadata cache (reference test_spark.py:1222 drives Spark's; the
        server side is the moka cache + ETag revalidation,
        catalog.load_table's 304 path)."""
        if self._meta_cache is None:
            meta, etag = self.catalog.load_table(self.warehouse, self.levels, self.name)
            self._meta_cache = (etag, meta)
        return self._meta_cache[1]

    def refresh(self) -> dict[str, Any]:
        """REFRESH TABLE: revalidate the cached metadata via ETag; a 304
        keeps the cache, anything newer replaces it."""
        if self._meta_cache is None:
            return self.metadata_cached()
        etag, _ = self._meta_cache
        try:
            meta, etag = self.catalog.load_table(
                self.warehouse, self.levels, self.name, etag=etag
            )
            self._meta_cache = (etag, meta)
        except NotModified:
            pass
        return self._meta_cache[1]

    def _invalidate(self) -> None:
        self._meta_cache = None

    def _current_schema(self, meta: dict[str, Any]) -> dict[str, Any]:
        return next(s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"])

    def _default_spec(self, meta: dict[str, Any]) -> dict[str, Any]:
        return next(
            s for s in meta["partition-specs"] if s["spec-id"] == meta["default-spec-id"]
        )

    def _snapshot(self, meta: dict[str, Any], snapshot_id: int) -> dict[str, Any]:
        snap = next((s for s in meta["snapshots"] if s["snapshot-id"] == snapshot_id), None)
        if snap is None:
            raise NoSuchEntity(f"snapshot {snapshot_id} not found")
        return snap

    def _resolve_snapshot(
        self,
        meta: dict[str, Any],
        snapshot_id: int | None = None,
        ref: str | None = None,
        as_of_ms: int | None = None,
    ) -> dict[str, Any] | None:
        if snapshot_id is not None:
            return self._snapshot(meta, snapshot_id)
        if ref is not None:
            r = meta["refs"].get(ref)
            if r is None:
                raise NoSuchEntity(f"ref {ref} not found")
            return self._snapshot(meta, r["snapshot-id"])
        if as_of_ms is not None:
            eligible = [e for e in meta["snapshot-log"] if e["timestamp-ms"] <= as_of_ms]
            if not eligible:
                return None
            return self._snapshot(meta, eligible[-1]["snapshot-id"])
        if meta.get("current-snapshot-id") is None:
            return None
        return self._snapshot(meta, meta["current-snapshot-id"])

    # ---------------- partition transforms ----------------
    @staticmethod
    def _transform_col(field: dict[str, Any]) -> F.Column:
        src, tr = field["source-name"], field["transform"]
        c = F.col(src)
        if tr == "identity":
            return c
        if tr.startswith("bucket["):
            n = int(tr[len("bucket[") : -1])
            return F.pmod(F.hash(c), F.lit(n))
        if tr.startswith("truncate["):
            w = int(tr[len("truncate[") : -1])
            return F.when(
                c.cast("string").isNotNull(), F.substring(c.cast("string"), 1, w)
            )
        if tr == "year":
            return F.year(c)
        if tr == "month":
            return F.date_format(c, "yyyy-MM")
        if tr == "day":
            return F.date_format(c, "yyyy-MM-dd")
        raise CatalogError(f"unknown transform {tr}")

    def _partition_columns(self, meta: dict[str, Any]) -> list[tuple[str, F.Column]]:
        spec = self._default_spec(meta)
        return [(f["name"], self._transform_col(f)) for f in spec.get("fields", [])]

    # ---------------- properties (SET/UNSET/SHOW TBLPROPERTIES) ----------
    def set_properties(self, updates: dict[str, str]) -> None:
        """ALTER TABLE SET TBLPROPERTIES (reference test_spark.py:483-500;
        immutable-key guards enforced by the commit engine)."""
        self._commit([], [{"action": "set-properties", "updates": dict(updates)}])

    def unset_properties(self, removals: list[str]) -> None:
        self._commit([], [{"action": "remove-properties", "removals": list(removals)}])

    def properties(self) -> dict[str, str]:
        """SHOW TBLPROPERTIES."""
        return dict(self.metadata().get("properties", {}))

    # ---------------- sort order ----------------
    def _default_sort_order(self, meta: dict[str, Any]) -> dict[str, Any] | None:
        return next(
            (
                o
                for o in meta.get("sort-orders", [])
                if o["order-id"] == meta.get("default-sort-order-id")
            ),
            None,
        )

    def _sort_columns(self, meta: dict[str, Any]) -> list[F.Column]:
        """Columns for the table's default sort order, Iceberg-style fields:
        {source-name, transform, direction: asc|desc,
         null-order: nulls-first|nulls-last}."""
        order = self._default_sort_order(meta)
        cols = []
        for f in (order or {}).get("fields", []):
            c = self._transform_col(
                {"source-name": f["source-name"], "transform": f.get("transform", "identity")}
            )
            desc = f.get("direction", "asc") == "desc"
            nulls_first = f.get("null-order", "nulls-first") == "nulls-first"
            if desc:
                c = c.desc_nulls_first() if nulls_first else c.desc_nulls_last()
            else:
                c = c.asc_nulls_first() if nulls_first else c.asc_nulls_last()
            cols.append(c)
        return cols

    def replace_sort_order(self, fields: list[dict[str, Any]]) -> None:
        """AddSortOrder + SetDefaultSortOrder commit; subsequent writes
        sortWithinPartitions by it (Iceberg write.sort-order semantics)."""
        meta = self.metadata()
        order = {
            "order-id": max(o["order-id"] for o in meta["sort-orders"]) + 1,
            "fields": fields,
        }
        self._commit(
            [],
            [
                {"action": "add-sort-order", "sort-order": order},
                {"action": "set-default-sort-order", "sort-order-id": order["order-id"]},
            ],
        )

    # ---------------- write paths ----------------
    def _write_files(
        self, meta: dict[str, Any], df: DataFrame, distribute: bool = True
    ) -> list[dict[str, Any]]:
        """Write df as parquet data files; returns manifest entries.
        Zero-row files are deleted and get no entry.

        Applies the table's default sort order via sortWithinPartitions —
        a per-task sort, no shuffle — so every data file is internally
        clustered. With table property ``write.distribution-mode=range``
        (Iceberg's range distribution) the rows are additionally
        repartitionByRange'd on the sort columns first, so files hold
        DISJOINT value ranges and the manifest bounds make stats_filter
        file skipping maximally effective. Maintenance rewrites
        (compaction) pass ``distribute=False`` to keep their explicit
        file-count targets."""
        commit_id = uuid.uuid4().hex
        out_dir = f"{meta['location']}/data/{commit_id}"
        partcols = self._partition_columns(meta)
        writer_df = df
        # v3 write-default: a writer that omits a schema column has it
        # filled with the declared default (missing columns without one
        # keep the existing behavior: absent from the file, read NULL)
        cur = self._current_schema(meta)
        have = set(df.columns)
        for f in cur["fields"]:
            if f["name"] not in have and f.get("write-default") is not None:
                writer_df = writer_df.withColumn(
                    f["name"],
                    F.lit(f["write-default"]).cast(spark_ddl_of(f["type"])),
                )
        # the one type rule (_store_cast): a top-level primitive column is
        # written as its DECLARED type. A wider value (a bigint source into
        # an int column, a decimal literal into a double) would otherwise
        # flip the file's physical type out from under the schema and fail
        # every later scan. Nested columns are written as given.
        declared = {f.name: f.dataType for f in schema_to_struct(cur).fields}
        casts = {
            f.name: _store_cast(F.col(f"`{f.name}`"), declared[f.name], f.name)
            for f in writer_df.schema.fields
            if f.name in declared
            and f.dataType != declared[f.name]
            and not isinstance(declared[f.name], (ArrayType, MapType, StructType))
        }
        if casts:
            writer_df = writer_df.withColumns(casts)
        for pname, pcol in partcols:
            writer_df = writer_df.withColumn(pname, pcol)
        sort_cols = self._sort_columns(meta)
        if sort_cols:
            mode = meta.get("properties", {}).get("write.distribution-mode", "none")
            if distribute and mode == "range":
                # explicit partition count = incoming parallelism: keeps
                # AQE from coalescing tiny test data to one file while
                # preserving data-proportional file counts at scale
                nparts = max(df.rdd.getNumPartitions(), 1)
                writer_df = writer_df.repartitionByRange(nparts, *sort_cols)
            writer_df = writer_df.sortWithinPartitions(*sort_cols)
        writer = writer_df.write.mode("overwrite")
        if partcols:
            writer = writer.partitionBy(*[p for p, _ in partcols])
        writer.parquet(out_dir)
        import pyarrow.parquet as pq

        entries = []
        counts_by_file: dict[str, int] | None = None
        for p in sorted(Path(out_dir).rglob("*.parquet")):
            rel = p.relative_to(meta["location"]).as_posix()
            try:
                md = pq.ParquetFile(p).metadata
                nrows, bounds = md.num_rows, _file_bounds(md)
            except OSError:
                # the footer carries a LogicalType this pyarrow build
                # can't parse (Spark 4 writes a VARIANT logical type);
                # fall back to one Spark count over the commit dir and
                # skip stats bounds for these files. Files match on the
                # full path, not the basename: one dynamic-partitioning
                # task writes the SAME basename into several partition
                # dirs. Spark reports paths as URIs ('a b' -> 'a%20b',
                # the hive-escaped 'c%3Ad' -> 'c%253Ad'), so both sides
                # compare as absolute local paths. A listed file that
                # yields no row holds none; an unlisted one is an error,
                # never a count of 0 (a 0 deletes the file below)
                if counts_by_file is None:
                    files = self.spark.read.parquet(out_dir)
                    counts_by_file = dict.fromkeys(
                        map(_local_path, files.inputFiles()), 0
                    )
                    counts_by_file.update(
                        (_local_path(r.f), r.n)
                        for r in files.groupBy(
                            F.col("_metadata.file_path").alias("f")
                        )
                        .agg(F.count(F.lit(1)).alias("n"))
                        .collect()
                    )
                nrows = counts_by_file.get(os.path.abspath(p))
                if nrows is None:
                    raise CatalogError(
                        f"written file {p} is missing from Spark's listing "
                        f"of {out_dir}; its row count is unknown"
                    )
                bounds = {}
            if nrows == 0:
                # Spark leaves an empty file for an empty write task
                p.unlink()
                continue
            partition = {}
            for part in p.relative_to(out_dir).parts[:-1]:
                if "=" in part:
                    k, v = part.split("=", 1)
                    # Spark hive-escapes special chars in partition dir
                    # names ('part:col' -> 'part%3Acol'); store the
                    # DECLARED field name/value so partition_filter works
                    # with the names users actually wrote
                    partition[unquote(k)] = unquote(v)
            entries.append(
                {
                    "path": rel,
                    "file-size-in-bytes": p.stat().st_size,
                    "record-count": nrows,
                    "partition": partition,
                    "schema-id": meta["current-schema-id"],
                    "bounds": bounds,
                    "sequence-number": _next_seq(meta),
                    # files that STORE lineage columns (row-id-preserving
                    # rewrites) can't have their row ids derived from the
                    # claimed range alone — metadata-only CDC planning
                    # (changelog_row_ids) must open them
                    **(
                        {"materialized-row-ids": True}
                        if "_row_id" in writer_df.columns
                        else {}
                    ),
                }
            )
        self._attach_bloom_filters(meta, cur, out_dir, entries)
        return entries

    def _attach_bloom_filters(
        self,
        meta: dict[str, Any],
        schema: dict[str, Any],
        out_dir: str,
        entries: list[dict[str, Any]],
    ) -> None:
        """Manifest-level bloom filters (opt-in via the table property
        ``write.metadata.bloom-filter-columns`` = comma-separated column
        names; ndv ceiling via ``write.metadata.bloom-filter-max-ndv``):
        one AUTO-SIZED bitmap per configured column per data file, built
        in TWO distributed passes over the freshly written files so raw
        hash positions never cross to the driver:

        1. a cheap ndv pre-pass (``approx_count_distinct`` per column
           per file) sizes each file's bitmap to the smallest power of
           two holding ~10 bits per distinct value and prunes columns
           past the ndv ceiling BEFORE any position is computed (a
           saturated bitmap prunes nothing, so above-ceiling columns
           store NO bloom and cost NO heavy aggregate);
        2. the surviving (file, column) pairs build their bitmaps
           executor-side: positions ``pmod(xxhash64(col, seed), cap)``
           (valid to downsize with ``% m`` because m divides the cap)
           fold into per-byte ``bit_or`` partial aggregates, then an
           Arrow-batched per-file-column packing step assembles the
           final bitmap, so at most m/8 <= 128 KiB of PACKED bytes per
           (file, column) reaches the driver — never the O(ndv*k)
           position sets (the 2^20-position worst case is exactly the
           high-cardinality id column this feature targets).

        scan(point_filter=...) then skips files whose bloom proves an
        equality value absent — planning-time pruning for point lookups
        on high-cardinality columns where min/max bounds overlap every
        file. Parquet keeps its own row-group blooms; this is the
        FILE-granular analogue of Iceberg's ndv/bounds stats; the
        bitmaps live in a Puffin sidecar, the manifest entry carries
        only the (path, offset, length, m, k) reference."""
        props = meta.get("properties", {})
        names = {f["name"] for f in schema["fields"]}
        cols = [
            c.strip()
            for c in str(
                props.get("write.metadata.bloom-filter-columns", "")
            ).split(",")
            if c.strip() and c.strip() in names
        ]
        if not cols or not entries:
            return
        bad = [c for c in cols if c.startswith("__bf_")]
        if bad:
            raise ValueError(
                "bloom-filter column names may not use the reserved "
                f"__bf_ prefix: {bad}"
            )
        max_ndv = int(
            props.get("write.metadata.bloom-filter-max-ndv", _BLOOM_MAX_NDV)
        )
        # hash the DECLARED column type, matching _bloom_probes: identity
        # partition columns come back from the hive directory names with
        # an INFERRED type (a small long partitions as IntegerType), and
        # xxhash64(int) != xxhash64(long) — without the cast every probe
        # on a partition column would wrongly prune every file
        decl = {
            f["name"]: spark_ddl_of(f["type"]) for f in schema["fields"]
        }
        # pass 1 — ndv pre-pass: one tiny row per file (an int per
        # column), sizes m and applies the ceiling before anything heavy
        ndv_rows = (
            self.spark.read.parquet(out_dir)
            .groupBy(F.col("_metadata.file_path").alias("f"))
            .agg(*[
                F.approx_count_distinct(F.col(c)).alias(f"__ndv_{ci}")
                for ci, c in enumerate(cols)
            ])
            .collect()
        )
        pairs = []  # (file, column-index, m) that get a bloom
        for r in ndv_rows:
            for ci in range(len(cols)):
                ndv = int(r[f"__ndv_{ci}"])
                if ndv > max_ndv:
                    continue  # would saturate: store nothing, file kept
                m = _BLOOM_MIN_BITS
                while m < min(
                    _BLOOM_CAP_BITS, _BLOOM_BITS_PER_VALUE * max(ndv, 1)
                ):
                    m <<= 1
                pairs.append((r["f"], ci, m))
        if not pairs:
            return
        # pass 2 — executor-side bitmap build; <= m/8 bytes per row back
        rows = self._bloom_bitmaps(out_dir, cols, decl, pairs).collect()
        if not rows:
            return
        # bitmaps land in ONE Puffin sidecar per commit (round 16 —
        # puffin-style like format/dv.py's deletion vectors), NOT in the
        # manifest entry: the metadata blob and the manifest files stay
        # bitmap-free regardless of bloom config, and a probe fetches
        # only the probed column's bytes by (path, offset, length) — at
        # object-storage scale that's one ranged GET per candidate
        # (file, column), never the whole bloom set.
        from .puffin import write_puffin

        sorted_rows = sorted(rows, key=lambda r: (r["f"], int(r["ci"])))
        bdir = Path(meta["location"]) / "metadata"
        bdir.mkdir(parents=True, exist_ok=True)
        bpath = str(bdir / f"bloom-{uuid.uuid4().hex[:12]}.puffin")
        by_name = {f["name"]: f["id"] for f in schema["fields"]}
        blobs = []
        layout: list[tuple[str, str, int, int, int]] = []  # f, col, m, off, len
        offset = 4  # container magic
        for r in sorted_rows:
            col = cols[int(r["ci"])]
            payload = bytes(r["bits"])
            blobs.append(
                {
                    "type": "icelite-bloom-v1",
                    "fields": [by_name.get(col, -1)],
                    "payload": payload,
                    "properties": {
                        "column": col,
                        "m": str(int(r["m"])),
                        "k": str(_BLOOM_K),
                        "data-file": r["f"],
                    },
                }
            )
            layout.append((r["f"], col, int(r["m"]), offset, len(payload)))
            offset += len(payload)
        write_puffin(bpath, blobs)
        blooms_by_file: dict[str, dict[str, Any]] = {}
        for f, col, m, off, ln in layout:
            blooms_by_file.setdefault(f, {})[col] = {
                "m": m,
                "k": _BLOOM_K,
                "path": bpath,
                "offset": off,
                "length": ln,
            }
        for e in entries:
            relp = e["path"].split("/", 2)[-1]  # path under out_dir
            for f, blooms in blooms_by_file.items():
                if f.endswith("/" + relp):
                    e["bloom"] = blooms
                    break
            # zero-row file: no bloom, never wrongly skipped

    def _bloom_bitmaps(
        self,
        out_dir: str,
        cols: list[str],
        decl: dict[str, str],
        pairs: list[tuple[str, int, int]],
    ) -> DataFrame:
        """The heavy half of the bloom build, entirely executor-side:
        returns one row ``(f, ci, m, bits)`` per surviving
        (file, column) pair where ``bits`` is the PACKED bitmap
        (m/8 <= 128 KiB binary). Positions explode to (file, ci, pos)
        long form, an inner broadcast join against the tiny
        pass-1 sizing table drops pruned pairs and attaches m, a
        ``bit_or`` per (file, ci, byte) collapses positions map-side
        (partial aggregation bounds every shuffle task's output at
        m/8 rows per file-column it touches), and a final Arrow-batched
        ``applyInPandas`` over the <= m/8 byte rows per group emits the
        packed bytes. Nothing proportional to ndv*k ever serializes."""
        import pandas as pd

        cap = _BLOOM_CAP_BITS
        needed = {ci for _, ci, _ in pairs}
        mdf = local_df(self.spark, 
            pairs, "f string, ci int, m int"
        )
        # per-FILE pruning before any hash: a column above the ceiling
        # in most files but under it in one would otherwise hash k
        # positions per row in every file; gating each struct's pos on
        # the file's allowed-column set (one broadcast join pre-explode,
        # `when` short-circuits the xxhash64) keeps the pre-pass promise
        # file-locally, not just column-globally. Internal columns use
        # the reserved __bf_ prefix and the source frame is projected to
        # exactly the bloom columns, so a data column named "f" (or any
        # non-reserved name) cannot collide with the plumbing.
        fcol, acol = "__bf_file__", "__bf_allowed__"
        allowed = F.broadcast(
            mdf.groupBy("f")
            .agg(F.collect_set("ci").alias(acol))
            .withColumnRenamed("f", fcol)
        )
        pos_structs = [
            F.struct(
                F.lit(ci).alias("ci"),
                F.when(
                    F.array_contains(F.col(acol), F.lit(ci)),
                    F.pmod(
                        F.xxhash64(F.col(c).cast(decl[c]), F.lit(s)),
                        F.lit(cap),
                    ),
                ).alias("pos"),
            )
            for ci, c in enumerate(cols)
            if ci in needed
            for s in range(_BLOOM_K)
        ]
        def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            m = int(pdf["m"].iloc[0])
            arr = np.zeros(m >> 3, dtype=np.uint8)
            arr[pdf["byte_idx"].to_numpy()] = pdf["b"].to_numpy().astype(
                np.uint8
            )
            return pd.DataFrame(
                {
                    "f": [pdf["f"].iloc[0]],
                    "ci": [int(pdf["ci"].iloc[0])],
                    "m": [m],
                    "bits": [arr.tobytes()],
                }
            )

        return (
            self.spark.read.parquet(out_dir)
            .select(
                F.col("_metadata.file_path").alias(fcol),
                *[F.col(c) for ci, c in enumerate(cols) if ci in needed],
            )
            .join(allowed, fcol)
            .select(
                F.col(fcol).alias("f"),
                F.explode(F.array(*pos_structs)).alias("x"),
            )
            # from here only plumbing columns remain — plain names safe
            .select("f", "x.ci", "x.pos")
            .filter(F.col("pos").isNotNull())
            .join(F.broadcast(mdf), ["f", "ci"])
            .select(
                "f",
                "ci",
                "m",
                F.expr("shiftright(pos % m, 3)").alias("byte_idx"),
                F.expr("shiftleft(1, cast(pos % m as int) & 7)")
                .alias("bit"),
            )
            .groupBy("f", "ci", "m", "byte_idx")
            .agg(F.bit_or("bit").alias("b"))
            .groupBy("f", "ci")
            .applyInPandas(
                _pack, schema="f string, ci int, m int, bits binary"
            )
        )

    def _bloom_probes(
        self,
        schema: dict[str, Any],
        point_filter: dict[str, Any],
    ) -> dict[str, list[int]]:
        """Raw xxhash64 probe values for each (column, literal) in a
        point filter — ONE tiny local job (1 row x k*cols columns), cast
        to each column's DECLARED type so the hash matches the writer's.
        NULL probes and unknown columns are skipped (files kept)."""
        by_name = {f["name"]: f["type"] for f in schema["fields"]}
        probes = {
            c: v
            for c, v in point_filter.items()
            if v is not None and c in by_name
        }
        if not probes:
            return {}
        sel = [
            F.xxhash64(
                F.lit(v).cast(spark_ddl_of(by_name[c])), F.lit(s)
            ).alias(f"{i}_{s}")
            for i, (c, v) in enumerate(probes.items())
            for s in range(_BLOOM_K)
        ]
        row = self.spark.range(1).select(*sel).head()
        return {
            c: [row[f"{i}_{s}"] for s in range(_BLOOM_K)]
            for i, c in enumerate(probes)
        }

    #: Iceberg's commit.manifest.min-count-to-merge: when a content
    #: kind's live manifest count reaches this, the smallest manifests
    #: coalesce into one — bounding the manifest list at O(threshold)
    #: however many commits the table has absorbed
    _MANIFEST_MERGE_MIN = 100

    def _build_manifests(
        self,
        meta: dict[str, Any],
        parent: dict[str, Any] | None,
        removed: set[str],
        appended: list[dict[str, Any]],
        snapshot_id: int,
        sequence_number: int,
    ) -> list[dict[str, Any]]:
        """The new snapshot's manifests from its delta over ``parent`` —
        commit cost O(delta), not O(table). A parent manifest holding no
        ``removed`` path is CARRIED by descriptor (its Avro file is never
        rewritten — byte-identical across commits); one holding some is
        dropped, and its survivors re-encode with the ``appended``
        entries into at most one fresh manifest per content kind.

        Only the manifests of the kinds ``removed`` touches are opened.
        When nothing is removed (an append) none is. Otherwise the delete
        manifests are opened first (tombstones are few, and every
        removing caller has just read them), and the data manifests only
        when some removed path is not a tombstone. An append to an N-file
        table therefore writes 1-2 new manifest files and the stored
        metadata blob stays O(manifests) — the shape real Iceberg commits
        have and the reference's normalized metadata layout encodes
        (SURVEY §1.2;
        migrations/20241106201139_split_table_metadata.sql:39-167)."""
        from .iceberg_manifests import write_manifest_file

        out_dir = str(Path(meta["location"]) / "metadata")
        seq_to_sid = {
            s.get("sequence-number", 0): s["snapshot-id"]
            for s in meta.get("snapshots", [])
        }
        seq_to_sid[sequence_number] = snapshot_id
        parent_descs = snapshot_manifests(parent)
        opened: set[str] = set()
        if removed:
            opened.add("deletes")
            dead = {
                e["path"]
                for d in parent_descs
                if d.get("content") == "deletes"
                for e in manifest_entries(d)
            }
            if not removed <= dead:
                opened.add("data")
        descs: list[dict[str, Any]] = []
        survivors: list[dict[str, Any]] = []
        for d in parent_descs:
            if d.get("content") in opened:
                over = manifest_entries(d)
                if not any(e["path"] in removed for e in over):
                    descs.append(dict(d))
                    continue
                survivors += [e for e in over if e["path"] not in removed]
            else:
                descs.append(dict(d))
        groups: dict[str, list[dict[str, Any]]] = {}
        for e in survivors + appended:
            kind = "deletes" if e.get("content") in _DELETE_KINDS else "data"
            groups.setdefault(kind, []).append(e)
        for kind in sorted(groups):
            descs.append(
                write_manifest_file(
                    meta,
                    groups[kind],
                    snapshot_id,
                    sequence_number,
                    out_dir,
                    seq_to_sid,
                )
            )
        return self._merge_small_manifests(
            meta, descs, snapshot_id, sequence_number, out_dir, seq_to_sid
        )

    def _merge_small_manifests(
        self,
        meta: dict[str, Any],
        descs: list[dict[str, Any]],
        snapshot_id: int,
        sequence_number: int,
        out_dir: str,
        seq_to_sid: dict[int, int],
    ) -> list[dict[str, Any]]:
        """Iceberg-style manifest merging: when a content kind
        accumulates ``commit.manifest.min-count-to-merge`` manifests,
        all but the largest half coalesce into one — amortized O(delta
        log) rewrite work that keeps plan-time descriptor scans and the
        manifest list bounded regardless of commit count."""
        from .iceberg_manifests import write_manifest_file

        threshold = int(
            meta.get("properties", {}).get(
                "commit.manifest.min-count-to-merge", self._MANIFEST_MERGE_MIN
            )
        )
        out: list[dict[str, Any]] = []
        cur_spec = meta.get("default-spec-id", 0)
        for kind in ("data", "deletes"):
            all_kind = [d for d in descs if d.get("content") == kind]
            # only manifests written under the CURRENT partition spec
            # merge — re-encoding an old-spec manifest under the new
            # spec would misdeclare its partition tuples to readers
            kd = [
                d
                for d in all_kind
                # a descriptor LACKING the key predates the spec-id
                # tracking: conservatively never merge it (re-encoding
                # could misdeclare its partition tuples)
                if d.get("partition-spec-id", -1) == cur_spec
            ]
            out.extend(d for d in all_kind if d not in kd)
            if len(kd) < max(threshold, 2):
                out.extend(kd)
                continue
            kd.sort(
                key=lambda d: d.get("added-files-count", 0)
                + d.get("existing-files-count", 0)
            )
            keep_n = max(threshold // 2 - 1, 0)
            victims = kd[: len(kd) - keep_n] if keep_n else kd
            kept = kd[len(victims):]
            merged_entries = [e for d in victims for e in manifest_entries(d)]
            out.append(
                write_manifest_file(
                    meta,
                    merged_entries,
                    snapshot_id,
                    sequence_number,
                    out_dir,
                    seq_to_sid,
                )
            )
            out.extend(kept)
        return out

    def _snapshot_payload(
        self,
        meta: dict[str, Any],
        parent: dict[str, Any] | None,
        removed: Iterable[str] | None,
        operation: str,
        extra_summary: dict[str, Any] | None = None,
        appended: list[dict[str, Any]] | None = None,
    ) -> dict[str, Any]:
        """One new snapshot dict stating its delta over ``parent``: the
        ``appended`` entries it adds and the ``removed`` paths it drops
        (None or empty: nothing). It holds incremental ``manifests``
        descriptors (_build_manifests) + the spec-required
        ``manifest-list`` Avro OCF (carried manifests referenced by their
        original paths). The snapshot — and therefore the metadata blob,
        the commit wire payload, and the metastore row — holds
        descriptors only, never entries.

        The summary's ``added-*`` counts are this commit's new data
        entries; ``total-*`` come from the new data descriptors' sums, so
        no manifest is opened for them."""
        from .iceberg_manifests import write_manifest_list_file

        appended = appended or []
        snapshot_id = (
            max((s["snapshot-id"] for s in meta["snapshots"]), default=0) + 1
        )
        seq = _next_seq(meta)
        descs = self._build_manifests(
            meta, parent, set(removed or ()), appended, snapshot_id, seq
        )
        added = _split_manifest(appended)[0]
        total_files, total_records = _data_totals(descs)
        return {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": parent["snapshot-id"] if parent else None,
            "timestamp-ms": _now_ms(),
            "sequence-number": seq,
            "schema-id": meta["current-schema-id"],
            "summary": {
                "operation": operation,
                "added-data-files": len(added),
                "added-records": sum(e["record-count"] for e in added),
                "total-data-files": total_files,
                "total-records": total_records,
                **(extra_summary or {}),
            },
            "manifests": descs,
            "manifest-list": write_manifest_list_file(
                meta,
                snapshot_id,
                seq,
                descs,
                str(Path(meta["location"]) / "metadata"),
            ),
        }

    def _branch_head(self, meta: dict[str, Any], branch: str) -> dict[str, Any] | None:
        """The snapshot ``branch`` points at, or None when it does not
        exist yet."""
        ref = meta["refs"].get(branch)
        return self._snapshot(meta, ref["snapshot-id"]) if ref else None

    def _commit_snapshot(
        self,
        meta: dict[str, Any],
        removed: Iterable[str] | None,
        operation: str,
        branch: str = MAIN,
        extra_summary: dict[str, Any] | None = None,
        appended: list[dict[str, Any]] | None = None,
    ) -> dict[str, Any]:
        """Commit the delta (``removed`` paths, ``appended`` entries) as a
        new snapshot on top of ``branch``, guarded by the ref still
        pointing at the head it was computed against."""
        parent = self._branch_head(meta, branch)
        snapshot = self._snapshot_payload(
            meta, parent, removed, operation, extra_summary, appended
        )
        requirements = [
            {"type": "assert-table-uuid", "uuid": meta["table-uuid"]},
            {
                "type": "assert-ref-snapshot-id",
                "ref": branch,
                "snapshot-id": parent["snapshot-id"] if parent else None,
            },
        ]
        updates = [
            {"action": "add-snapshot", "snapshot": snapshot},
            {
                "action": "set-snapshot-ref",
                "ref-name": branch,
                "snapshot-id": snapshot["snapshot-id"],
            },
        ]
        return self._commit(requirements, updates)

    def _commit(
        self, requirements: list[dict[str, Any]], updates: list[dict[str, Any]]
    ) -> dict[str, Any]:
        """All handle-local commits funnel here so they invalidate the
        scan-metadata cache (a writer always sees its own writes)."""
        out = self.catalog.commit_table(
            self.warehouse, self.levels, self.name, requirements, updates
        )
        self._invalidate()
        return out

    def append(
        self,
        df: DataFrame,
        branch: str = MAIN,
        commit_retries: int = 3,
        wap_id: str | None = None,
    ) -> dict[str, Any]:
        """Append with optimistic-concurrency RETRY: data files are written
        once; on CommitFailedException the manifest is rebased onto the
        winner's snapshot and the commit retried (what the Iceberg Spark
        writer does — appends never conflict logically, only on the
        assert-ref CAS). Non-append operations surface the conflict to the
        caller, who must re-derive their rewrite from fresh state.

        ``wap_id`` stages the snapshot WITHOUT moving any ref
        (write-audit-publish, Iceberg's spark.wap.id): the data is
        committed and auditable via scan(snapshot_id=...), and main only
        advances when publish_wap(wap_id) cherry-picks it."""
        new_entries = self._write_files(self.metadata(), df)
        if wap_id is not None:
            return self._stage_wap(new_entries, wap_id, branch)
        return self._commit_files(new_entries, branch=branch, retries=commit_retries)

    def _commit_files(
        self,
        entries: list[dict[str, Any]],
        *,
        replace: bool = False,
        branch: str = MAIN,
        retries: int = 3,
        extra_summary: dict[str, Any] | None = None,
        skip: Callable[[dict[str, Any]], bool] | None = None,
    ) -> dict[str, Any] | None:
        """The one optimistic commit loop of a write whose data files are
        already written (append, overwrite and both DataSource writers):
        on CommitFailedException the entries are rebased onto the
        winner's snapshot and the commit retried — appends never conflict
        logically, only on the assert-ref CAS. Each attempt re-stamps the
        sequence number: the winner consumed the one the entries carried,
        and a stale data seq would let an equality delete committed in
        between wrongly apply to their rows. The ``schema-id`` they were
        written under is never touched.

        ``replace`` commits an ``overwrite`` snapshot that also removes
        every file of the branch head, read afresh on each attempt (as
        Iceberg's OverwriteFiles does), so a lost race re-derives the
        removed set instead of failing; otherwise the commit is a pure
        append, which carries parent manifests unopened — O(delta).
        ``skip(meta)`` is checked against each attempt's freshly loaded
        metadata: when it holds, nothing commits and None is returned."""
        from ..catalog.catalog import CommitFailedException

        last_err: Exception | None = None
        for _ in range(retries + 1):
            meta = self.metadata()
            if skip is not None and skip(meta):
                return None
            seq = _next_seq(meta)
            for e in entries:
                e["sequence-number"] = seq
            removed = (
                [e["path"] for e in snapshot_entries(self._branch_head(meta, branch))]
                if replace
                else None
            )
            try:
                return self._commit_snapshot(
                    meta,
                    removed,
                    "overwrite" if replace else "append",
                    branch,
                    extra_summary=extra_summary,
                    appended=entries,
                )
            except CommitFailedException as e:  # lost the CAS race: rebase
                last_err = e
        raise last_err

    def overwrite(self, df: DataFrame, branch: str = MAIN) -> dict[str, Any]:
        """Replace the branch's rows with ``df``'s (_commit_files)."""
        return self._commit_files(
            self._write_files(self.metadata(), df), replace=True, branch=branch
        )

    # ---------------- read path ----------------
    def scan(
        self,
        snapshot_id: int | None = None,
        ref: str | None = None,
        as_of_ms: int | None = None,
        partition_filter: dict[str, Any] | None = None,
        stats_filter: dict[str, tuple] | None = None,
        point_filter: dict[str, Any] | None = None,
        use_cache: bool = False,
        row_lineage: bool = False,
    ) -> DataFrame:
        """Read the table at a snapshot. `partition_filter` prunes manifest
        entries by partition value BEFORE any file is opened — the
        catalog-side analogue of Iceberg partition pruning.
        ``stats_filter`` = {col: (lo, hi)} additionally skips files whose
        footer min/max bounds are disjoint with the range (Iceberg
        lower/upper-bound file skipping; files without bounds for the
        column are kept, never wrongly skipped). The same range should
        also be applied as a .filter for row-level exactness — the
        stats_filter only controls which FILES open.
        ``point_filter`` = {col: value} skips files whose MANIFEST BLOOM
        FILTER (written when the table property
        ``write.metadata.bloom-filter-columns`` names the column) proves
        the equality value absent — point-lookup pruning on
        high-cardinality columns where every file's min/max overlaps;
        files without a bloom are kept, and like stats_filter the caller
        still applies the exact row .filter (superset contract). With
        ``use_cache=True`` the scan plans against this handle's cached
        metadata (stale until refresh(); see metadata_cached).

        ``row_lineage=True`` (v3 tables only) adds the Iceberg v3 row
        lineage columns: ``_row_id`` = the file's assigned first-row-id +
        the row's position (stable across reads, survives MoR deletes
        because surviving rows keep their physical position), and
        ``_last_updated_sequence_number`` = the file's data sequence
        number. Files committed before the v3 upgrade carry no
        first-row-id and read ``_row_id`` as NULL (spec behavior). See
        _lineage_ids for the per-file map."""
        meta = self.metadata_cached() if use_cache else self.metadata()
        snap = self._resolve_snapshot(meta, snapshot_id, ref, as_of_ms)
        # head reads project the CURRENT schema (schema evolution applies to
        # old files); time-travel reads use the snapshot's schema
        time_travel = snapshot_id is not None or as_of_ms is not None
        schema_id = (
            snap["schema-id"] if (snap and time_travel) else meta["current-schema-id"]
        )
        schema = next(s for s in meta["schemas"] if s["schema-id"] == schema_id)
        # manifest-level pruning first (descriptor partition/bounds
        # summaries skip whole manifest files), then the per-entry
        # filters over what survived
        entries, delete_entries, total = snapshot_split_pruned(
            snap, partition_filter, stats_filter
        )
        if entries and partition_filter:
            entries = [
                e
                for e in entries
                if all(str(e["partition"].get(k)) == str(v) for k, v in partition_filter.items())
            ]
        if entries and stats_filter:
            entries = [e for e in entries if _bounds_overlap(e, stats_filter)]
        if entries and point_filter:
            probes = self._bloom_probes(schema, point_filter)
            if probes:
                entries = [e for e in entries if _bloom_keep(e, probes)]
        if row_lineage and meta.get("format-version", 2) < 3:
            raise ValueError(
                "row lineage requires format-version >= 3 "
                f"(table is v{meta.get('format-version', 2)})"
            )
        self._report_scan(snap, partition_filter, entries, total)
        return self._live_rows(
            meta,
            schema,
            entries,
            delete_entries,
            snap["schema-id"] if snap else schema_id,
            lineage=row_lineage,
        )

    def _read_entries(
        self,
        meta: dict[str, Any],
        target_schema: dict[str, Any],
        entries: list[dict[str, Any]],
        default_schema_id: int,
        with_pos: bool = False,
        with_row_id: bool = False,
    ) -> DataFrame:
        """Field-id-based projection (Iceberg read semantics): each data
        file is read with its WRITE-time schema, then columns map to the
        target schema by field id — so RENAME COLUMN reaches old files,
        added columns read as NULL there, and dropped columns vanish. Files
        whose write schema equals the target (the common case) take a
        single plain scan with no union. ``entries`` must be non-empty
        (_live_rows owns the empty case).

        ``with_pos`` adds ``_file`` + ``_pos`` from the parquet reader's
        hidden ``_metadata`` struct (file_path / row_index) — the stable
        per-file row ordinal Iceberg position deletes address. Both
        columns come from the SAME source on the write and read sides of
        a delete file, so the (file, pos) keys always line up.

        ``with_row_id`` additionally reads the PHYSICAL ``_row_id`` and
        ``_last_updated_sequence_number`` columns that row-id-preserving
        compaction materializes into its output files (v3 row lineage: an
        explicit column overrides inherited assignment; the spec requires
        a carried row to keep BOTH its id and its last-updated sequence
        number) — NULL for files that don't carry them."""
        tstruct = schema_to_struct(target_schema)
        if with_row_id:
            from pyspark.sql import types as _T

            def _plus_rid(st):
                return _T.StructType(
                    list(st.fields)
                    + [
                        _T.StructField("_row_id", _T.LongType(), True),
                        _T.StructField(
                            "_last_updated_sequence_number",
                            _T.LongType(),
                            True,
                        ),
                    ]
                )
        # group by (write schema, commit dir): identity-partitioned writes
        # store the partition column in the HIVE DIRECTORY NAME, not the
        # file — reading with basePath=<commit dir> makes Spark restore it
        # against the declared schema (per-file reads without a basePath
        # silently yield NULL partition columns)
        def _base(rel: str) -> str:
            p = rel.split("/")
            return "/".join(p[:2]) if len(p) > 2 and p[0] == "data" else "/".join(p[:-1])

        groups: dict[tuple[int, str], list[dict[str, Any]]] = {}
        for e in entries:
            key = (e.get("schema-id", default_schema_id), _base(e["path"]))
            groups.setdefault(key, []).append(e)
        parts = []
        for (sid, base), group in groups.items():
            paths = [f"{meta['location']}/{e['path']}" for e in group]
            base_path = f"{meta['location']}/{base}"
            wschema = next(
                (s for s in meta["schemas"] if s["schema-id"] == sid), target_schema
            )
            by_id = {f["id"]: f["name"] for f in wschema["fields"]}
            by_id_t = {f["id"]: f["type"] for f in wschema["fields"]}
            same_names = all(
                by_id.get(f["id"]) == f["name"]
                and by_id_t.get(f["id"], f["type"]) == f["type"]
                for f in target_schema["fields"]
            )
            def _tag(raw: DataFrame) -> DataFrame:
                # selectExpr ships every projection in ONE py4j command
                # (withColumn/select(Column...) pay one round trip per
                # column); same analyzed plan either way
                if with_pos:
                    return raw.selectExpr(
                        "*",
                        "_metadata.file_path AS _file",
                        "_metadata.row_index AS _pos",
                    )
                return raw

            if same_names:
                # name-compatible: one scan, parquet fills missing as NULL.
                # basePath discovery may surface DERIVED partition dirs
                # (bucket/truncate transform columns) that are not schema
                # columns — project back to exactly the declared shape
                raw = _tag(
                    self.spark.read.schema(
                        _plus_rid(tstruct) if with_row_id else tstruct
                    )
                    .option("basePath", base_path)
                    .parquet(*paths)
                )
                keep = [f.name for f in tstruct.fields]
                if with_row_id:
                    keep += ["_row_id", "_last_updated_sequence_number"]
                if with_pos:
                    keep += ["_file", "_pos"]
                parts.append(raw.selectExpr(*[f"`{c}`" for c in keep]))
                continue
            raw = _tag(
                self.spark.read.schema(
                    _plus_rid(schema_to_struct(wschema))
                    if with_row_id
                    else schema_to_struct(wschema)
                )
                .option("basePath", base_path)
                .parquet(*paths)
            )
            cols = []
            for f, sf in zip(target_schema["fields"], tstruct.fields):
                wname = by_id.get(f["id"])
                if wname is None:
                    # field didn't exist when this file was written: v3
                    # initial-default (JSON single-value; ISO strings
                    # cast to date/timestamp) — NULL when none declared
                    dv = f.get("initial-default")
                    cols.append(F.lit(dv).cast(sf.dataType).alias(f["name"]))
                else:
                    cols.append(F.col(wname).cast(sf.dataType).alias(f["name"]))
            if with_row_id:
                cols.append(F.col("_row_id"))
                cols.append(F.col("_last_updated_sequence_number"))
            if with_pos:
                cols.append(F.col("_file"))
                cols.append(F.col("_pos"))
            parts.append(raw.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _live_rows(
        self,
        meta: dict[str, Any],
        schema: dict[str, Any],
        entries: list[dict[str, Any]],
        delete_entries: list[dict[str, Any]],
        schema_id: int,
        *,
        lineage: bool = False,
        keep_pos: bool = False,
    ) -> DataFrame:
        """The one live-row read: data ``entries`` read field-id-aware
        into ``schema`` (_read_entries; ``schema_id`` is the write schema of
        entries that carry none), v3 lineage ids resolved (``lineage``:
        adds ``_row_id`` and ``_last_updated_sequence_number``, see
        _lineage_ids), then every artifact in ``delete_entries`` applied
        (_apply_position_deletes). Every read of a snapshot's rows goes
        through here, including the empty case (no data entries: an empty
        frame of the same shape, no lineage or delete work).

        ``keep_pos`` keeps ``_file`` and ``_pos``. A row's file identity
        has ONE source, ``_metadata.file_path`` (a percent-encoded URI),
        and ONE convention: consumers compare the table-relative path
        _rel_file derives from it with manifest ``path`` values."""
        if not entries:
            df = local_df(self.spark, [], schema_to_struct(schema))
            extra = {}
            if lineage:
                extra["_row_id"] = "long"
                extra["_last_updated_sequence_number"] = "long"
            if keep_pos:
                extra["_file"] = "string"
                extra["_pos"] = "long"
            return df.withColumns({c: F.lit(None).cast(t) for c, t in extra.items()})
        positioned = lineage or keep_pos or bool(delete_entries)
        df = self._read_entries(
            meta, schema, entries, schema_id, with_pos=positioned, with_row_id=lineage
        )
        if lineage:
            df = self._lineage_ids(df, meta, entries)
        if delete_entries:
            df = self._apply_position_deletes(df, meta, delete_entries, entries)
        return df if keep_pos or not positioned else df.drop("_file", "_pos")

    def _report_scan(
        self,
        snap: dict[str, Any] | None,
        partition_filter: dict[str, Any] | None,
        entries: list[dict[str, Any]],
        total: int,
    ) -> None:
        """File an Iceberg-shaped scan report with the catalog (reference
        ReportMetrics sink, api/iceberg/v1/metrics.rs:40-66)."""
        try:
            self.catalog.report_metrics(
                self.warehouse,
                self.levels,
                self.name,
                {
                    "report-type": "scan-report",
                    "snapshot-id": snap["snapshot-id"] if snap else None,
                    "filter": partition_filter or {},
                    "result-data-files": len(entries),
                    "result-records": sum(e["record-count"] for e in entries),
                    "skipped-data-files": total - len(entries),
                },
            )
        except Exception as exc:  # noqa: BLE001 - metrics must never fail a scan
            _log.warning(
                "scan report for %s was not filed: %r", self.name, exc, exc_info=True
            )

    def scan_changes(
        self, from_snapshot_id: int | None, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Incremental read: rows in data files ADDED after
        ``from_snapshot_id`` up to ``to_snapshot_id`` (default current) —
        Iceberg's incremental-append scan, the engine-side view of the
        catalog's change-event stream (reference service/events/ emits the
        commits; this reads their payload). File-level diff of the two
        manifests, so only new files are opened; a file rewritten by
        compaction/CoW appears as added (same semantics as Iceberg's
        append-only incremental scan, which errors on replace — we surface
        the rewritten file's rows instead of failing).

        ``from_snapshot_id=None`` means "from table creation" (all files).
        """
        meta = self.metadata()
        to_snap = self._resolve_snapshot(meta, to_snapshot_id)
        schema = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )
        struct = schema_to_struct(schema)
        if to_snap is None:
            return local_df(self.spark, [], struct)
        from_snap = (
            self._snapshot(meta, from_snapshot_id)
            if from_snapshot_id is not None
            else None
        )
        # data entries only: position-delete tombstones are not row
        # additions (Iceberg's incremental append scan likewise skips
        # delete manifests). The descriptor-level diff opens only
        # manifests the two snapshots DON'T share.
        added = _split_manifest(diff_snapshots(from_snap, to_snap)[0])[0]
        # field-id-aware read: incremental scans survive column renames
        return self._live_rows(meta, schema, added, [], to_snap["schema-id"])

    def changelog(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        identifier_columns: list[str] | None = None,
        strict_identifiers: bool = False,
        net_changes: bool = False,
        row_lineage: bool = False,
    ) -> DataFrame:
        """CDC changelog scan (Iceberg's create_changelog_view semantics):
        one row per NET row-level change between two snapshots, tagged
        `_change_type` ('insert' | 'delete') and `_commit_snapshot_id`.

        The events are plan_changes' groups, each read with one
        _live_rows read (plus a semi-join for new tombstones). Per commit
        on the main lineage (walked by parent pointers, _main_lineage):
          - data files ADDED       -> their rows as inserts
          - data files REMOVED     -> their rows as deletes (file-granular
            net change: a copy-on-write rewrite emits delete+insert pairs
            for surviving rows, exactly as Iceberg's changelog does)
          - tombstones ADDED       -> the newly-deleted rows as deletes.
            v3 consolidated vectors subtract the positions of the delete
            files they replaced, so re-stated tombstones don't re-emit;
            equality deletes emit the parent rows matching their keys.
          - operation 'replace' (compaction / rewrite_position_deletes /
            materialization) -> skipped: no logical change.

        All reads are file-list-driven (metadata-sized driver state) and
        field-id-aware, so the changelog survives column renames.

        ``from_snapshot_id`` must be an ancestor of the target snapshot: a
        rolled-back or unknown id raises ValueError, as does history
        expired inside the range. A ``from`` snapshot that was expired
        while its child was retained still works when that child is an
        append (its own files are known by sequence number); any other
        child raises, since what it removed or masked was in the parent.

        ``identifier_columns`` opts into Iceberg's
        create_changelog_view(identifier_columns=...) semantics: carry-over
        rows (delete+insert pairs identical in every column within one
        commit — the restated survivors of a CoW rewrite) are removed, and
        a remaining delete+insert sharing the identifier tuple in the same
        commit is retagged update_preimage/update_postimage (see
        pair_update_images).

        ``net_changes=True`` opts into Iceberg's
        create_changelog_view(net_changes => true): one net row per unique
        row content across the whole range, cross-commit carry-overs
        folded (see net_changes above). Like Iceberg, it cannot combine
        with identifier_columns (update images)."""
        if net_changes and identifier_columns:
            raise ValueError(
                "net_changes cannot be combined with identifier_columns "
                "(update images) — Iceberg's create_changelog_view raises "
                "the same"
            )
        meta = self.metadata()
        # row_lineage: every change row carries the v3 _row_id it refers
        # to (per-row inheritance, stable across all DML here), so
        # downstream CDC can pair update images BY ROW ID —
        # identifier_columns=["_row_id"] — the lineage-native pairing.
        if row_lineage and meta.get("format-version", 2) < 3:
            raise ValueError(
                "row lineage requires format-version >= 3 "
                f"(table is v{meta.get('format-version', 2)})"
            )
        if row_lineage and net_changes:
            raise ValueError(
                "net_changes collapses by row CONTENT; it cannot carry "
                "per-row lineage ids — use one or the other"
            )
        to_snap = self._resolve_snapshot(meta, to_snapshot_id)
        schema = self._current_schema(meta)
        struct = schema_to_struct(schema)
        empty = local_df(self.spark, [], struct).select(
            "*",
            *(
                [F.lit(None).cast("long").alias("_row_id")]
                if row_lineage
                else []
            ),
            F.lit("insert").alias("_change_type"),
            F.lit(0).cast("long").alias("_commit_snapshot_id"),
        )
        if to_snap is None:
            return empty.limit(0)
        parts: list[DataFrame] = []
        order: dict[int, int] = {}  # commit -> lineage position, for net_changes
        for g in plan_changes(meta, from_snapshot_id, to_snap["snapshot-id"]):
            order.setdefault(g["snapshot-id"], len(order))
            inc_pos, inc_eq = g.get("include-pos"), g.get("include-eq")
            rows = self._live_rows(
                meta,
                schema,
                g["entries"],
                g["deletes"],
                g["schema-id"],
                lineage=row_lineage,
                keep_pos=inc_pos is not None,
            )
            if inc_pos is not None:
                new, restated = inc_pos
                pos = self._read_positional(meta, new)
                if restated:
                    pos = pos.exceptAll(self._read_positional(meta, restated))
                cond = (self._rel_file(meta["location"]) == pos["file_path"]) & (
                    F.col("_pos") == pos["pos"]
                )
                rows = rows.join(pos, cond, "left_semi").drop("_file", "_pos")
            if inc_eq is not None:
                # NULL keys match, like _apply_equality_deletes — a
                # name-list join would silently drop delete events for
                # rows the table really removed
                keys = self._read_eq_delete(meta, inc_eq)
                rows = _null_safe_semi(rows, keys, keys.columns)
            parts.append(
                rows.select(
                    *[f["name"] for f in schema["fields"]],
                    *(["_row_id"] if row_lineage else []),
                    F.lit(g["change"]).alias("_change_type"),
                    F.lit(g["snapshot-id"]).cast("long").alias("_commit_snapshot_id"),
                )
            )
        if not parts:
            return empty.limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if identifier_columns:
            out = pair_update_images(
                out, list(identifier_columns), strict=strict_identifiers
            )
        if net_changes:
            out = _net_changes_fn(out, order)
        return out

    def changelog_row_ids(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """METADATA-ONLY CDC planning (v3 row lineage): the changelog's
        (_row_id, _change_type, _commit_snapshot_id) stream, computed
        WITHOUT opening data files wherever the commit metadata suffices:

        - appended data files that don't materialize lineage columns emit
          insert events straight from their claimed [first-row-id,
          first-row-id + record-count) ranges (``spark.range`` per file —
          distributed, no file IO); added files that DO store ids (MoR
          update/merge images, preserved rewrites) are read — but ONLY
          those files, never the parent state;
        - MoR DELETE / UPDATE / MERGE / equality-delete commits emit
          delete events from the ``deleted-row-id-ranges`` each recorded
          in its summary (bounded; see _row_id_ranges) — the parent data
          files are never read;
        - pure CoW rewrite commits take the plan's ``targeted-diff``
          branch: delete events from reading EXACTLY the removed files
          (parent tombstone artifacts mask already-dead rows), insert
          events from the added files' ranges/entries — the parent state
          is never scanned;
        - the rest (rewrites that also add tombstones, and oversized
          deletes that recorded no ranges) falls back per-commit to the
          full changelog(row_lineage=True) projected to the three
          columns — correct, just not metadata-only.

        At scale this is the cheap half of lineage-native CDC: a consumer
        keeping a row-id watermark learns WHICH rows changed from
        metadata alone and fetches content only for the ids it actually
        needs."""
        meta = self.metadata()
        if meta.get("format-version", 2) < 3:
            raise ValueError(
                "changelog_row_ids requires format-version >= 3 "
                f"(table is v{meta.get('format-version', 2)})"
            )
        to_snap = self._resolve_snapshot(meta, to_snapshot_id)
        out_schema = (
            "_row_id long, _change_type string, _commit_snapshot_id long"
        )
        empty = local_df(self.spark, [], out_schema)
        if to_snap is None:
            return empty

        def _tagged(df: DataFrame, kind: str, sid: int) -> DataFrame:
            return df.select(
                F.col("_row_id"),
                F.lit(kind).alias("_change_type"),
                F.lit(sid).cast("long").alias("_commit_snapshot_id"),
            )

        def _ranges_df(pairs: list[list[int]]) -> DataFrame:
            # ONE plan node for ALL of a commit's ranges, however many
            # files: a two-level chunked sequence-explode (outer rows =
            # metadata-sized chunk index, repartitioned for parallelism;
            # inner arrays capped at 64k elements) — never a per-range
            # spark.range union, whose plan-node count would grow with
            # the file count of a "metadata-only" scan
            chunk = 1 << 16
            rdf = local_df(self.spark, 
                [(int(s), int(e)) for s, e in pairs], "s long, e long"
            )
            outer = rdf.select(
                "s",
                "e",
                F.explode(
                    F.sequence(
                        F.lit(0).cast("long"),
                        ((F.col("e") - F.col("s")) / chunk).cast("long"),
                    )
                ).alias("ci"),
            ).repartition(self.spark.sparkContext.defaultParallelism)
            return outer.select(
                F.explode(
                    F.sequence(
                        F.col("s") + F.col("ci") * chunk,
                        F.least(
                            F.col("e"),
                            F.col("s") + (F.col("ci") + 1) * chunk - 1,
                        ),
                    )
                ).alias("_row_id")
            )

        parts: list[DataFrame] = []
        for plan in plan_lineage_events(
            meta, from_snapshot_id, to_snap["snapshot-id"]
        ):
            sid = plan["snapshot-id"]
            if plan.get("targeted-diff"):
                # pure CoW rewrite: delete events from EXACTLY the
                # removed files (parent tombstones mask already-dead
                # rows), never the parent state; the insert side falls
                # through to the shared range/entry handling below
                schema = self._current_schema(meta)
                dels = self._live_rows(
                    meta,
                    schema,
                    plan["delete-file-entries"],
                    plan["delete-mask-entries"],
                    plan["parent-schema-id"],
                    lineage=True,
                )
                parts.append(_tagged(dels, "delete", sid))
            elif plan["content-fallback"]:
                # an uncovered tombstone (oversized / pre-range-recording
                # commit) or a rewrite that also added tombstones needs
                # the parent rows — this one commit goes through the full
                # content-reading changelog, projected to lineage keys
                parts.append(
                    self.changelog(
                        from_snapshot_id=plan["parent-snapshot-id"],
                        to_snapshot_id=sid,
                        row_lineage=True,
                    ).select(
                        "_row_id", "_change_type", "_commit_snapshot_id"
                    )
                )
                continue
            # insert side: claimed ranges for plain files; added files
            # that STORE ids are read — only those files, no parent scan
            if plan["insert-ranges"]:
                parts.append(
                    _tagged(_ranges_df(plan["insert-ranges"]), "insert", sid)
                )
            opened = plan["insert-file-entries"]
            if opened:
                schema = self._current_schema(meta)
                ins = self._live_rows(
                    meta, schema, opened, [], plan["schema-id"], lineage=True
                )
                parts.append(_tagged(ins, "insert", sid))
            # delete side: the commit's recorded ranges, parent unread
            if plan["delete-ranges"]:
                parts.append(
                    _tagged(_ranges_df(plan["delete-ranges"]), "delete", sid)
                )
        if not parts:
            return empty
        # balanced union: analyzer depth O(log parts), not O(parts)
        while len(parts) > 1:
            parts = [
                parts[i].unionByName(parts[i + 1])
                if i + 1 < len(parts)
                else parts[i]
                for i in range(0, len(parts), 2)
            ]
        return parts[0]

    def create_changelog_view(
        self,
        view_name: str,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        identifier_columns: list[str] | None = None,
        strict_identifiers: bool = False,
        net_changes: bool = False,
    ) -> DataFrame:
        """Iceberg's spark procedure `create_changelog_view`: registers the
        changelog (optionally update-paired via ``identifier_columns``, or
        net-folded via ``net_changes`` — mutually exclusive, as in
        Iceberg) as a session temp view and returns the frame, so
        downstream SQL can `SELECT * FROM <view_name>` exactly as with the
        stock procedure. ``strict_identifiers=True`` matches Iceberg's
        behavior of raising on ambiguous identifier groups instead of
        degrading."""
        df = self.changelog(
            from_snapshot_id, to_snapshot_id, identifier_columns,
            strict_identifiers=strict_identifiers, net_changes=net_changes,
        )
        df.createOrReplaceTempView(view_name)
        return df

    # ---------------- statistics (ANALYZE) ----------------
    def analyze(self, exact: bool = False) -> dict[str, Any]:
        """Compute per-column table statistics with ONE Spark aggregate and
        commit them as a StatisticsFile entry for the current snapshot
        (reference SetStatistics TableUpdate, commit_tables.rs:130-156;
        StatisticsFile re-export iceberg-ext spec/mod.rs). Distinct counts
        use approx_count_distinct (HLL) — the same sketch family Iceberg
        puffin blobs carry — so the job is one pass, no per-column scans.
        ``exact=True`` swaps in count_distinct (still one shuffle
        aggregate, scale-safe) for deterministic, oracle-checkable ndv."""
        meta = self.metadata()
        snap = self._resolve_snapshot(meta)
        if snap is None:
            raise CatalogError("no snapshot to analyze")
        df = self.scan()
        ndv_fn = F.count_distinct if exact else F.approx_count_distinct
        aggs = []
        # min/max only for JSON-representable numerics (metadata is a JSON
        # document; date/timestamp bounds would need ISO stringification)
        numeric = {"int", "long", "bigint", "double", "float", "smallint", "tinyint"}
        for f in df.schema.fields:
            c = f.name
            aggs.append(F.count(F.col(c)).alias(f"{c}__count"))
            aggs.append(ndv_fn(F.col(c)).alias(f"{c}__ndv"))
            if f.dataType.simpleString() in numeric:
                aggs.append(F.min(F.col(c)).alias(f"{c}__min"))
                aggs.append(F.max(F.col(c)).alias(f"{c}__max"))
        row = df.agg(*aggs).collect()[0].asDict()
        n_rows = df.count()
        blobs = []
        for f in df.schema.fields:
            blob = {
                "type": "column-stats",
                "fields": [f.name],
                "snapshot-id": snap["snapshot-id"],
                "properties": {
                    "row-count": n_rows,
                    "value-count": row.get(f"{f.name}__count"),
                    "ndv": row.get(f"{f.name}__ndv"),
                    "ndv-mode": "exact" if exact else "approx",
                },
            }
            if f"{f.name}__min" in row:
                blob["properties"]["min"] = row[f"{f.name}__min"]
                blob["properties"]["max"] = row[f"{f.name}__max"]
            blobs.append(blob)
        # the registered statistics-path is a REAL Puffin container
        # (format/puffin.py, public spec): one vendor-typed blob per
        # column carrying the stats JSON; blob metadata (type/fields/
        # snapshot-id/ndv properties) is what stock readers parse
        from .puffin import write_puffin

        schema = self._current_schema(meta)
        by_name = {f["name"]: f["id"] for f in schema["fields"]}
        sdir = Path(meta["location"]) / "stats"
        sdir.mkdir(parents=True, exist_ok=True)
        spath = str(sdir / f"{snap['snapshot-id']}.stats.puffin")
        size = write_puffin(
            spath,
            [
                {
                    "type": "lakekeeper-spark-column-stats-v1",
                    "fields": [by_name.get(b["fields"][0], -1)],
                    "snapshot-id": snap["snapshot-id"],
                    "sequence-number": snap.get("sequence-number", 0),
                    "payload": json.dumps(b["properties"], sort_keys=True).encode(),
                    "properties": {"ndv": str(b["properties"].get("ndv", ""))},
                }
                for b in blobs
            ],
            file_properties={"created-by": "lakekeeper-spark analyze"},
        )
        stats_file = {
            "snapshot-id": snap["snapshot-id"],
            "statistics-path": spath,
            "file-size-in-bytes": size,
            "blob-metadata": blobs,
        }
        self._commit([], [{"action": "set-statistics", "statistics": stats_file}])
        return stats_file

    def analyze_partitions(self) -> dict[str, Any]:
        """Per-partition statistics committed via SetPartitionStatistics
        (reference PartitionStatisticsFile; commit arm in catalog/commit.py).
        Row/file/byte counts per partition value come straight from the
        manifest — no data scan at all."""
        meta = self.metadata()
        snap = self._resolve_snapshot(meta)
        if snap is None:
            raise CatalogError("no snapshot to analyze")
        per_part: dict[str, list[int]] = {}
        for e in _split_manifest(snapshot_entries(snap))[0]:
            key = str(e.get("partition", {}))
            cur = per_part.setdefault(key, [0, 0, 0])
            cur[0] += e["record-count"]
            cur[1] += 1
            cur[2] += e["file-size-in-bytes"]
        rows = [
            {
                "partition": k,
                "record-count": v[0],
                "file-count": v[1],
                "total-size-in-bytes": v[2],
            }
            for k, v in sorted(per_part.items())
        ]
        # partition statistics files are PARQUET per the Iceberg spec
        # ("Partition Statistics file") — write the real thing
        import pyarrow as pa
        import pyarrow.parquet as pq

        sdir = Path(meta["location"]) / "stats"
        sdir.mkdir(parents=True, exist_ok=True)
        ppath = str(sdir / f"part-{snap['snapshot-id']}.parquet")
        pq.write_table(
            pa.table(
                {
                    "partition": [r["partition"] for r in rows],
                    "record_count": [r["record-count"] for r in rows],
                    "file_count": [r["file-count"] for r in rows],
                    "total_size_in_bytes": [r["total-size-in-bytes"] for r in rows],
                }
            ),
            ppath,
        )
        stats_file = {
            "snapshot-id": snap["snapshot-id"],
            "statistics-path": ppath,
            "file-size-in-bytes": Path(ppath).stat().st_size,
            "partitions": rows,
        }
        self._commit(
            [], [{"action": "set-partition-statistics", "partition-statistics": stats_file}]
        )
        return stats_file

    _STATS_DDL = (
        "column string, row_count long, value_count long, ndv long,"
        " min_long long, max_long long"
    )

    def statistics(self) -> DataFrame:
        """Stats metadata table: one row per column of the CURRENT
        snapshot's registered StatisticsFile, decoded from the REAL
        Puffin container on storage — NOT from the blob-metadata copy in
        the table metadata, so a green read here proves the
        SetStatistics round-trip end-to-end. min/max surface when they
        are integral (the JSON single-value forms analyze() records).
        The ndv here is what an engine's ndv-informed planning (e.g.
        picking the broadcast side of a join) consumes without
        scanning data."""
        meta = self.metadata()
        snap = self._resolve_snapshot(meta)
        sf = next(
            (
                s
                for s in meta.get("statistics", [])
                if snap and s["snapshot-id"] == snap["snapshot-id"]
            ),
            None,
        )
        if sf is None:
            return local_df(self.spark, [], self._STATS_DDL)
        from .puffin import read_puffin

        blobs, _ = read_puffin(sf["statistics-path"])
        by_id = {
            f["id"]: f["name"] for f in self._current_schema(meta)["fields"]
        }
        rows = []
        for b in blobs:
            if b.get("type") != "lakekeeper-spark-column-stats-v1":
                continue  # foreign blob types are skipped, spec-style
            props = json.loads(bytes(b["payload"]))
            name = by_id.get((b.get("fields") or [None])[0])
            if name is None:
                continue
            mn, mx = props.get("min"), props.get("max")
            rows.append(
                (
                    name,
                    int(props.get("row-count", 0)),
                    int(props.get("value-count", 0)),
                    int(props.get("ndv", 0)),
                    int(mn) if isinstance(mn, int) else None,
                    int(mx) if isinstance(mx, int) else None,
                )
            )
        return local_df(self.spark, rows, self._STATS_DDL)

    # ---------------- merge-on-read position deletes ----------------
    # Iceberg v2 row-level deletes (spec "Position Delete Files";
    # reference tables are format v2, server/tables.rs format gate):
    # a DELETE/UPDATE can write small tombstone files of
    # (file_path, pos) instead of rewriting data files; scans anti-join
    # the tombstones back out. Copy-on-write (_cow_commit, below)
    # remains the default, matching Iceberg's write.delete.mode.
    _DELETE_SCHEMA = "file_path string, pos long"

    def _read_positional(
        self, meta: dict[str, Any], entries: list[dict[str, Any]]
    ) -> DataFrame:
        """(file_path, pos) rows of positional tombstone artifacts.
        Parquet position-delete files scan natively; v3 Puffin deletion
        vectors (``.puffin``) decode EXECUTOR-side — one task per
        container via mapInPandas — so positions never route through the
        driver. Pre-Puffin parquet DV entries (older tables) still read
        on the parquet branch: the suffix is the format discriminator,
        mirroring file_format in real manifests."""
        loc = meta["location"]
        pq_e = [e for e in entries if not e["path"].endswith(".puffin")]
        dv_e = [e for e in entries if e["path"].endswith(".puffin")]
        parts = []
        if pq_e:
            parts.append(
                self.spark.read.schema(self._DELETE_SCHEMA).parquet(
                    *[f"{loc}/{e['path']}" for e in pq_e]
                )
            )
        if dv_e:
            paths = local_df(self.spark, 
                [(f"{loc}/{e['path']}",) for e in dv_e], "puffin_path string"
            ).repartition(len(dv_e))

            def decode(batches):
                import pandas as pd

                from lakekeeper_spark.format.dv import read_deletion_vectors_cached

                for pdf in batches:
                    for p in pdf["puffin_path"]:
                        for fp, poss in read_deletion_vectors_cached(p).items():
                            if poss.size:
                                yield pd.DataFrame(
                                    {
                                        "file_path": fp,
                                        "pos": pd.Series(poss, dtype="int64"),
                                    }
                                )

            parts.append(paths.mapInPandas(decode, self._DELETE_SCHEMA))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _rel_file_sql(location: str) -> str:
        """SQL text of the table-relative ``_file`` path derivation.
        ``_file`` is a percent-encoded URI (a space reads back as %20), so
        it is decoded before the location prefix is cut. url_decode turns
        a literal '+' into a space, so '+' is escaped to %2B first."""
        return (
            "substring(url_decode(replace(regexp_replace(_file, '^file:(//)?', ''), "
            f"'+', '%2B')), {len(location) + 2}, {1 << 30})"
        )

    def _rel_file(self, location: str) -> F.Column:
        """Table-relative path derived from a ``_file`` URI, so tombstones
        stay valid under SetLocation and match manifest entry paths. This
        is the one file-identity rule: ``_file`` always comes from
        ``_metadata.file_path`` (_read_entries), and every consumer — delete
        anti-joins, lineage and sequence maps, tombstone writers, the
        copy-on-write file targeting — compares this path with manifest
        ``path`` values.

        Built as ONE parsed expression string: the Column-API form costs
        ~10 py4j round trips per call and this runs on every positioned
        scan/join in the DML paths (driver latency, guide §5)."""
        return F.expr(self._rel_file_sql(location))

    def _inline_pos_filter(
        self, pos_like: list[dict[str, Any]], loc: str
    ) -> F.Column | None:
        """Literal keep-filter equivalent to the positional anti-join for
        metadata-small tombstone sets: every Puffin container decodes on
        the driver (read_deletion_vectors_cached — local metadata files,
        cached per process) and the whole tombstone set ships inside the
        plan as ``NOT ((file='a' AND _pos IN (...)) OR ...)``. Returns
        None when a container can't be decoded (caller falls back to the
        distributed anti-join)."""
        try:
            by_file = self._prior_dv_positions(loc, pos_like)
        except Exception as exc:
            _log.warning(
                "inline position-delete filter failed, scan falls back to "
                "the anti-join lane: %r",
                exc,
                exc_info=True,
            )
            return None
        if not by_file:
            return F.lit(True)
        import numpy as np

        rel_sql = self._rel_file_sql(loc)
        conds = []
        for fp in sorted(by_file):
            poss = np.unique(np.concatenate(by_file[fp]))
            esc = fp.replace("\\", "\\\\").replace("'", "\\'")
            in_list = ",".join(str(int(p)) for p in poss)
            conds.append(f"({rel_sql} = '{esc}' AND _pos IN ({in_list}))")
        return F.expr(f"NOT ({' OR '.join(conds)})")

    def _apply_position_deletes(
        self,
        df: DataFrame,
        meta: dict[str, Any],
        delete_entries: list[dict[str, Any]],
        data_entries: list[dict[str, Any]],
    ) -> DataFrame:
        """Anti-join every delete artifact kind out of a positioned read.

        - position-deletes / deletion-vectors: (file_path, pos) tombstones.
          Both name exact data files, so files appended AFTER the delete
          are naturally unaffected — no sequence bookkeeping. v3 DVs are
          the consolidated form: at most one artifact chain per data file
          (reference v3 DELETE test, test_spark.py:1321-1340).
        - equality-deletes: rows matching the delete file's column values
          are removed from data files with a STRICTLY OLDER sequence
          number (Iceberg spec sequence semantics); `data_entries` supplies
          the per-file sequence map (metadata-sized broadcast).

        The tombstone side is broadcast while small (~1M rows / ~10 MB,
        Spark's guidance); larger sets take the shuffled anti-join, which
        AQE still upgrades when stats allow."""
        pos_like = [e for e in delete_entries if e.get("content") != "equality-deletes"]
        eq_dels = [e for e in delete_entries if e.get("content") == "equality-deletes"]
        loc = meta["location"]
        if pos_like:
            inline = None
            if sum(e["record-count"] for e in pos_like) <= _DV_INLINE_POS_MAX and all(
                e["path"].endswith(".puffin") for e in pos_like
            ):
                # r17: a metadata-small tombstone set decodes on the driver
                # (cached per container) and anti-filters as ONE literal
                # expression — no per-scan broadcast-build job, no Python
                # decode stage. Same rows removed as the anti-join by
                # construction: the filter is (file, pos) NOT IN tombstones.
                inline = self._inline_pos_filter(pos_like, loc)
            if inline is not None:
                df = df.filter(inline)
            else:
                dels = self._read_positional(meta, pos_like)
                if sum(e["record-count"] for e in pos_like) <= 1_000_000:
                    dels = F.broadcast(dels)
                cond = (self._rel_file(loc) == dels["file_path"]) & (
                    F.col("_pos") == dels["pos"]
                )
                df = df.join(dels, cond, "left_anti")
        if eq_dels:
            df = self._apply_equality_deletes(df, meta, eq_dels, data_entries)
        return df

    def _apply_equality_deletes(
        self,
        df: DataFrame,
        meta: dict[str, Any],
        eq_dels: list[dict[str, Any]],
        data_entries: list[dict[str, Any]],
    ) -> DataFrame:
        """Sequence-aware anti-joins for equality-delete files. One
        anti-join per delete commit (bounded by snapshot count); the
        per-file sequence number attaches by the read's `_file` column
        (_file_values)."""
        tagged = self._file_values(
            df, meta, data_entries, {"_seq": lambda e: e.get("sequence-number", 0)}
        )
        # the written and current column names usually coincide, so the
        # join condition needs side-disambiguated references. Renaming the
        # delete side to reserved __eqd_<i> names (one toDF round trip)
        # lets the whole condition ship as ONE parsed expression instead
        # of ~15 py4j Column calls per equality column (driver latency;
        # the analyzed plan is identical). Fall back to frame-qualified
        # Columns if a table column ever collides with the prefix.
        plain = not any(c.startswith("__eqd_") for c in tagged.columns)
        for e in eq_dels:
            pairs = self._eq_delete_keys(meta, e)[0]
            inline = self._inline_eq_filter(meta, e, pairs)
            if inline is not None:
                tagged = tagged.filter(inline)
                continue
            del_rows = self._read_eq_delete(meta, e)
            seq = int(e.get("sequence-number", 0))
            if plain:
                del_rows = del_rows.toDF(
                    *[f"__eqd_{i}" for i in range(len(pairs))]
                )
            if e.get("record-count", 0) <= 1_000_000:
                del_rows = F.broadcast(del_rows)
            if plain:
                cond = F.expr(
                    " AND ".join(
                        [f"_seq < {seq}"]
                        + [
                            f"`{cname}` <=> `__eqd_{i}`"
                            for i, (_, _, cname) in enumerate(pairs)
                        ]
                    )
                )
            else:
                cond = F.col("_seq") < F.lit(seq)
                for _, _, cname in pairs:
                    cond = cond & (tagged[cname].eqNullSafe(del_rows[cname]))
            tagged = tagged.join(del_rows, cond, "left_anti")
        return tagged.drop("_seq")

    def _eq_delete_keys(
        self, meta: dict[str, Any], e: dict[str, Any]
    ) -> tuple[list[tuple[str, Any, str]], bool]:
        """(written name, written type, current name) per equality field
        id of an equality-delete artifact, resolved by field id through
        its WRITE-time schema, and whether that schema is legacy-typed."""
        current = self._current_schema(meta)
        by_id_cur = {f["id"]: f["name"] for f in current["fields"]}
        wschema = next(
            (s for s in meta["schemas"] if s["schema-id"] == e.get("schema-id")),
            current,
        )
        by_id_w = {f["id"]: (f["name"], f["type"]) for f in wschema["fields"]}
        pairs = [(*by_id_w[fid], by_id_cur[fid]) for fid in e["equality-ids"]]
        return pairs, is_legacy_schema(wschema)

    def _read_eq_delete(self, meta: dict[str, Any], e: dict[str, Any]) -> DataFrame:
        """The one equality-delete reader: the artifact's rows read with
        its write-time names and types, returned under the CURRENT column
        names (field-id rename safety)."""
        pairs, legacy = self._eq_delete_keys(meta, e)
        read_schema = ", ".join(
            f"`{w}` {spark_ddl_of(t, legacy=legacy)}" for w, t, _ in pairs
        )
        return (
            self.spark.read.schema(read_schema)
            .parquet(f"{meta['location']}/{e['path']}")
            .toDF(*[c for _, _, c in pairs])
        )

    # metadata path-keyed lookups: at or below this entry count the
    # per-file value attaches as a LITERAL map expression — zero
    # broadcast-build jobs per action (each broadcast is its own ~0.1 s
    # driver-latency job; a DML lifecycle runs several per scan). Above
    # it, a broadcast join keeps the plan size bounded at 100 TB file
    # counts (a million-entry literal map would be a planning disaster).
    _PATH_MAP_MAX = 200

    @staticmethod
    def _path_map_expr(pairs: list[tuple[str, int | None]]) -> F.Column | None:
        """Literal map('path', value, ...) over metadata-sized pairs.

        Pairs are deduped first: spark.sql.mapKeyDedupPolicy=EXCEPTION
        (the default) throws DUPLICATED_MAP_KEY on a repeated literal key,
        where the broadcast-join fallback tolerated duplicates (ADVICE
        r17). A path repeated with CONFLICTING values has no single map
        value: returns None (logged) so the caller takes the broadcast
        join, which surfaces every value."""
        merged = dict(pairs)
        conflicts = sorted({p for p, v in pairs if v != merged[p]})
        if conflicts:
            _log.warning(
                "conflicting duplicate paths in a per-file map, lookup takes "
                "the broadcast-join lane: %s",
                conflicts[:5],
            )
            return None
        pairs = list(merged.items())
        items = ", ".join(
            "'{}', {}".format(
                p.replace("\\", "\\\\").replace("'", "\\'"),
                "CAST(NULL AS BIGINT)" if v is None else f"{int(v)}L",
            )
            for p, v in pairs
        )
        return F.expr(f"map({items})")

    def _inline_eq_filter(
        self,
        meta: dict[str, Any],
        e: dict[str, Any],
        pairs: list[tuple[str, Any, str]],
    ) -> F.Column | None:
        """Literal keep-filter equivalent to one equality-delete anti-join
        for a metadata-small artifact: the key tuples driver-read via
        pyarrow and shipped as a struct IN-list (InSet probe — O(1) per
        row, like the broadcast hash join it replaces). Returns None when
        ineligible (row count, key types without exact literal rendering,
        NULL keys — those need eqNullSafe join semantics — or any read
        failure); the caller then takes the join path unchanged."""
        if e.get("record-count", 0) > _EQ_INLINE_ROWS_MAX:
            return None
        wtypes = [t for _, t, _ in pairs]
        if not all(isinstance(t, str) and t in _EQ_INLINE_TYPES for t in wtypes):
            return None
        try:
            import pyarrow.parquet as pq

            tbl = pq.read_table(
                str(Path(meta["location"]) / e["path"]),
                columns=[w for w, _, _ in pairs],
            )
            cols = [tbl.column(w).to_pylist() for w, _, _ in pairs]
        except Exception as exc:
            _log.warning(
                "inline equality-delete filter failed for %s, scan falls "
                "back to the anti-join lane: %r",
                e["path"],
                exc,
                exc_info=True,
            )
            return None
        tups = set(zip(*cols)) if cols and cols[0] else set()
        seq = int(e.get("sequence-number", 0))
        if not tups:
            return F.lit(True)
        # NULL keys need eqNullSafe join semantics — and sorted() below
        # would raise TypeError comparing None with a value, so the
        # bail-out must precede the sort (ADVICE r17).
        if any(v is None for r in tups for v in r):
            return None
        rows = sorted(tups)

        def lit(v: Any, t: str) -> str:
            if t == "string":
                return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"
            if t == "boolean":
                return "true" if v else "false"
            if t == "long":
                return f"{int(v)}L"
            return str(int(v))

        if len(pairs) == 1:
            in_expr = "`{}` IN ({})".format(
                pairs[0][2], ", ".join(lit(r[0], wtypes[0]) for r in rows)
            )
        else:
            cur_cols = ", ".join(f"`{c}`" for _, _, c in pairs)
            tuples = ", ".join(
                "(" + ", ".join(lit(v, t) for v, t in zip(r, wtypes)) + ")"
                for r in rows
            )
            in_expr = f"({cur_cols}) IN ({tuples})"
        # NULL-safe composition: a NULL key or NULL _seq makes the drop
        # condition non-TRUE — exactly the anti-join's keep behavior.
        return F.expr(f"NOT coalesce(_seq < {seq} AND ({in_expr}), false)")

    def _file_values(
        self,
        df: DataFrame,
        meta: dict[str, Any],
        entries: list[dict[str, Any]],
        values: dict[str, Any],
    ) -> DataFrame:
        """Attach per-data-file metadata as long columns: ``values`` maps
        a column name to a function of the manifest entry, looked up by
        the row's table-relative file (_rel_file). Metadata-sized: a
        literal map expression per column at or below _PATH_MAP_MAX
        entries (no broadcast-build job), a broadcast join beyond it or
        when a path repeats with conflicting values (_path_map_expr)."""
        rel = self._rel_file(meta["location"])
        if 0 < len(entries) <= self._PATH_MAP_MAX:
            maps = {
                c: self._path_map_expr([(e["path"], fn(e)) for e in entries])
                for c, fn in values.items()
            }
            if all(m is not None for m in maps.values()):
                return df.withColumns(
                    {c: F.try_element_at(m, rel) for c, m in maps.items()}
                )
        fmap = local_df(
            self.spark,
            [(e["path"], *[fn(e) for fn in values.values()]) for e in entries],
            ", ".join(["__file_values_path string"] + [f"{c} long" for c in values]),
        )
        return df.join(
            F.broadcast(fmap), rel == fmap["__file_values_path"], "left"
        ).drop("__file_values_path")

    def _lineage_ids(
        self, df: DataFrame, meta: dict[str, Any], entries: list[dict[str, Any]]
    ) -> DataFrame:
        """Resolve each row's v3 row id per the spec's PER-ROW inheritance:
        the physical ``_row_id`` column when stored, else the file's
        first-row-id + the row's position; same rule for
        ``_last_updated_sequence_number`` over the file's data sequence
        number. ``df`` must carry ``_file`` / ``_pos`` and the physical
        columns (with_pos + with_row_id reads); the per-file values attach
        through _file_values (both of its lanes)."""
        return (
            self._file_values(
                df,
                meta,
                entries,
                {
                    "_frid": lambda e: e.get("first-row-id"),
                    "_fseq": lambda e: e.get("sequence-number", 0),
                },
            )
            .withColumns(
                {
                    "_row_id": F.expr("coalesce(_row_id, _frid + _pos)"),
                    # stored wins over the file's sequence number: a
                    # carried (compacted/rewritten-unchanged) row keeps
                    # the sequence number of the commit that last
                    # MODIFIED it, not the rewrite's (spec row-lineage
                    # inheritance)
                    "_last_updated_sequence_number": F.expr(
                        "coalesce(_last_updated_sequence_number, _fseq)"
                    ),
                }
            )
            .drop("_frid", "_fseq")
        )

    def _write_delete_files(
        self,
        meta: dict[str, Any],
        rows: DataFrame,
        content: str = "position-deletes",
        extra_fields: dict[str, Any] | None = None,
    ) -> list[dict[str, Any]]:
        """Write delete artifacts under data/deletes/<commit>; zero-row
        outputs are dropped (a DELETE matching nothing commits no
        snapshot, Iceberg parity). `content` picks the artifact kind:
        position-deletes / deletion-vectors carry (file_path, pos) rows,
        equality-deletes carry the equality-column values (caller passes
        equality-ids via extra_fields)."""
        commit_id = uuid.uuid4().hex
        out_dir = f"{meta['location']}/data/deletes/{commit_id}"
        rows.write.mode("overwrite").parquet(out_dir)
        import pyarrow.parquet as pq

        positional = content in ("position-deletes", "deletion-vectors")
        entries = []
        for p in sorted(Path(out_dir).rglob("*.parquet")):
            md = pq.ParquetFile(p).metadata
            if md.num_rows == 0:
                p.unlink()
                continue
            entry = {
                "path": p.relative_to(meta["location"]).as_posix(),
                "file-size-in-bytes": p.stat().st_size,
                "record-count": md.num_rows,
                "partition": {},
                "schema-id": meta["current-schema-id"],
                "content": content,
                "sequence-number": _next_seq(meta),
                **(extra_fields or {}),
            }
            if positional:
                # target data-file list per tombstone file (Iceberg v2
                # delete manifests carry referenced_data_file / bounds for
                # the same purpose): lets CoW rewrites and
                # rewrite_position_deletes drop tombstones whose targets
                # no longer exist without opening them. Metadata-sized.
                entry["referenced-files"] = sorted(
                    set(
                        pq.read_table(p, columns=["file_path"])[
                            "file_path"
                        ].to_pylist()
                    )
                )
            entries.append(entry)
        return entries

    def _mor_matched(
        self, meta: dict[str, Any], rows: DataFrame, distinct: bool = False
    ) -> tuple[DataFrame, int, Any]:
        """The matched set of a MOR DELETE/UPDATE/MERGE: returns
        (positions, n, pdf). ``rows`` are positioned live rows (``_file``,
        ``_pos`` and, on v3, ``_row_id``).

        The narrow projection (file_path, pos[, _row_id]) is checkpointed
        so its consumers never re-run the read or join that produced it,
        counted once — the empty-probe and the range/small-commit bound —
        and, on v3 at or below _MAX_RANGE_ROWS rows, collected once:
        ``pdf`` then feeds the deleted-row-id ranges and, for a small
        commit (_small_commit), the driver DV lane. ``distinct`` drops the
        duplicate positions a MERGE source with repeated keys produces."""
        lineage = meta.get("format-version", 2) >= 3
        narrow = rows.select(
            self._rel_file(meta["location"]).alias("file_path"),
            F.col("_pos").alias("pos"),
            *(["_row_id"] if lineage else []),
        )
        if distinct:
            narrow = narrow.distinct()
        narrow = narrow.localCheckpoint(eager=False)  # the count materializes it
        n = narrow.count()
        pdf = narrow.toPandas() if lineage and 0 < n <= self._MAX_RANGE_ROWS else None
        return narrow.select("file_path", "pos"), n, pdf

    def _mor_commit(
        self,
        meta: dict[str, Any],
        snap: dict[str, Any],
        matched: DataFrame,
        operation: str,
        project: Callable[[DataFrame], DataFrame] | None = None,
        inserts: DataFrame | None = None,
        distinct: bool = False,
        extra_summary: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """The merge-on-read commit step of DELETE/UPDATE/MERGE: tombstones
        for the ``matched`` rows (_mor_matched, then _positional_artifacts;
        ``distinct`` when a row can match more than once), an append of
        their images ``project(matched)`` and of the MERGE ``inserts``, and
        one snapshot carrying both. A statement that matched nothing and
        inserts nothing commits no snapshot (Iceberg parity), and neither
        does one whose artifacts hold no rows."""
        if project is not None:
            # the matched rows feed the tombstones AND the images: one
            # materialization (the matched set's count fills it), not a
            # second read of the table
            matched = matched.localCheckpoint(eager=False)
        positions, n, pdf = self._mor_matched(meta, matched, distinct)
        if n == 0 and inserts is None:
            return meta
        removed, del_entries = self._positional_artifacts(meta, snap, positions, n, pdf)
        new_rows = inserts
        if project is not None:
            images = project(matched).drop("_file")
            new_rows = images if inserts is None else images.unionByName(inserts)
        add_entries = self._write_files(meta, new_rows) if new_rows is not None else []
        if not del_entries and not add_entries:
            return meta
        # v3 lineage: this commit's newly-deleted row ids as compact
        # [start, end] ranges — metadata-only CDC planning
        # (changelog_row_ids) emits delete events from this alone, no
        # parent data file opened. Absent when the matched set is over
        # _MAX_RANGE_ROWS or too scattered to record.
        ranges = self._ranges_from_series(pdf["_row_id"]) if pdf is not None else None
        return self._commit_snapshot(
            meta,
            removed,
            operation,
            appended=del_entries + add_entries,
            extra_summary={
                "added-delete-files": len(del_entries),
                "added-position-deletes": sum(e["record-count"] for e in del_entries),
                "removed-delete-files": len(removed),
                **(extra_summary or {}),
                **({"deleted-row-id-ranges": ranges} if ranges else {}),
            },
        )

    # deleted-row-id-range recording bound: a MOR commit or equality
    # delete matching more rows than this keeps the summary
    # metadata-sized by NOT recording (CDC falls back to reading parent
    # files); the range list itself is also capped for pathological
    # scatter. The same bound decides a small MOR commit (_small_commit).
    _MAX_RANGE_ROWS = 100_000
    _MAX_RANGES = 4096

    def _ranges_from_series(self, col: Any) -> list[list[int]] | None:
        """numpy gaps-and-islands over a driver-local id series: sorted
        inclusive [start, end] ranges, or None (record nothing) for NULL
        ids or more than _MAX_RANGES ranges."""
        import numpy as np

        if col.isna().any():
            return None  # pre-lineage rows resolved NULL: not rangeable
        arr = np.unique(col.to_numpy(np.int64))
        breaks = np.nonzero(np.diff(arr) != 1)[0]
        if breaks.size + 1 > self._MAX_RANGES:
            return None
        starts = np.concatenate(([0], breaks + 1))
        ends = np.concatenate((breaks, [arr.size - 1]))
        return [[int(arr[s]), int(arr[e])] for s, e in zip(starts, ends)]

    def _row_id_ranges(self, ids: DataFrame) -> list[list[int]] | None:
        """Compress a one-column frame of row ids into ranges (see
        _ranges_from_series). COUNT first — never collect an over-cap id
        set: a 10M-row delete records nothing — then one Arrow transfer.
        MOR commits derive theirs from the matched set's collected frame
        instead (_mor_matched)."""
        n = ids.count()
        if n == 0 or n > self._MAX_RANGE_ROWS:
            return None
        pdf = ids.toPandas()
        return self._ranges_from_series(pdf[pdf.columns[0]])

    def _small_commit(self, n: int, pos_like: list[dict[str, Any]]) -> bool:
        """The small-commit predicate: a v3 MOR commit of ``n`` new
        positions over prior positional artifacts ``pos_like`` takes the
        driver DV lane when every prior is a Puffin DV and both ``n`` and
        the priors' record counts are within _MAX_RANGE_ROWS."""
        return (
            n <= self._MAX_RANGE_ROWS
            and all(e["path"].endswith(".puffin") for e in pos_like)
            and sum(int(e.get("record-count", 0)) for e in pos_like)
            <= self._MAX_RANGE_ROWS
        )

    def _positional_artifacts(
        self,
        meta: dict[str, Any],
        snap: dict[str, Any],
        positions: DataFrame,
        n: int,
        positions_pdf: Any | None,
    ) -> tuple[list[str], list[dict[str, Any]]]:
        """Shared tombstone-writing policy for the MOR DML family: returns
        (removed delete paths, new delete entries).

        v2: the new tombstones stack onto the existing ones as a parquet
        position-delete file; nothing is removed.
        v3: they CONSOLIDATE with every prior positional artifact into
        deletion vectors that replace them (at most one positional
        artifact chain per data file — the v3 invariant); equality-delete
        entries pass through untouched. Two lanes write the same
        artifacts (same payloads, container chunking and manifest
        entries):

        - driver lane, when ``positions_pdf`` (the matched set collected
          by _mor_matched) exists and _small_commit(n, priors) holds:
          prior DVs decode on the driver (_prior_dv_positions), merge with
          the new positions, encode and write with zero Spark jobs;
        - distributed lane otherwise, or when the driver lane raises:
          per-file encode on the executors, then
          ceil(files / _DV_BLOBS_PER_CONTAINER) container-writer tasks
          (_write_deletion_vectors).

        Both run through _write_dv_containers. Lane parity is pinned by
        tests/test_scan_fastpaths.py::test_fast_paths_match_fallback_paths
        (every MOR op with _small_commit forced False) and the driver
        lane's fallback by
        tests/test_scan_fastpaths.py::test_driver_dv_lane_failure_falls_back_without_orphans."""
        if meta.get("format-version", 2) < 3:
            _log.debug("MOR commit: n=%d, v2 position-delete file", n)
            return [], self._write_delete_files(meta, positions)
        pos_like = [
            e
            for e in snapshot_delete_entries(snap)
            if e.get("content") != "equality-deletes"
        ]
        lane = "distributed"
        if positions_pdf is not None and self._small_commit(n, pos_like):
            try:
                del_entries = self._dv_driver_write(meta, pos_like, positions_pdf)
                lane = "driver"
            except Exception as exc:
                _log.warning(
                    "driver DV lane failed, commit falls back to the "
                    "distributed lane: %r",
                    exc,
                    exc_info=True,
                )
        _log.debug(
            "MOR commit: DV lane=%s n=%d prior_positions=%d all_priors_puffin=%s",
            lane,
            n,
            sum(int(e.get("record-count", 0)) for e in pos_like),
            all(e["path"].endswith(".puffin") for e in pos_like),
        )
        if lane == "distributed":
            merged = positions
            if pos_like:
                # no .distinct(): the encoder np.unique()s each file's
                # positions anyway (r17)
                merged = merged.unionByName(self._read_positional(meta, pos_like))
            # positions only ever reference data files of this snapshot,
            # so its data-file count bounds the referenced files
            del_entries = self._write_deletion_vectors(
                meta, merged, max_files=_data_totals(snapshot_manifests(snap))[0]
            )
        return [e["path"] for e in pos_like], del_entries

    @staticmethod
    def _prior_dv_positions(
        loc: str, pos_like: list[dict[str, Any]]
    ) -> dict[str, list[Any]]:
        """Driver-side decode of Puffin positional artifacts: referenced
        data file -> its non-empty position arrays (one per container).
        The one prior-DV decoder behind the inline scan filter and the
        driver DV lane (containers cache per process; raises when one
        can't be decoded)."""
        from .dv import read_deletion_vectors_cached

        by_file: dict[str, list[Any]] = {}
        for e in pos_like:
            for fp, poss in read_deletion_vectors_cached(f"{loc}/{e['path']}").items():
                if poss.size:
                    by_file.setdefault(fp, []).append(poss)
        return by_file

    @staticmethod
    def _dv_target(meta: dict[str, Any]) -> tuple[str, int, int]:
        """(container directory, adding snapshot id, sequence number) of
        the next DV commit. Blobs are stamped with the snapshot id that
        ADDS them (the next id, mirroring _commit_snapshot's max+1
        assignment) per Puffin blob semantics."""
        out_dir = Path(meta["location"]) / "data" / "deletes" / uuid.uuid4().hex
        new_sid = (
            max((s["snapshot-id"] for s in meta.get("snapshots", [])), default=0) + 1
        )
        return str(out_dir), new_sid, _next_seq(meta)

    def _dv_driver_write(
        self,
        meta: dict[str, Any],
        pos_like: list[dict[str, Any]],
        positions_pdf: Any,
    ) -> list[dict[str, Any]]:
        """Driver DV lane: merge prior DVs with the collected new
        positions, encode and write the consolidated containers — no
        Spark job. Raises on any decode or write problem (the caller
        falls back to the distributed lane)."""
        import numpy as np

        from .dv import dv_payload

        by_file = self._prior_dv_positions(meta["location"], pos_like)
        for fp, grp in positions_pdf.groupby("file_path", sort=True):
            by_file.setdefault(str(fp), []).append(grp["pos"].to_numpy(np.int64))
        encoded = []
        for fp, arrs in by_file.items():
            poss = np.unique(np.concatenate(arrs))
            encoded.append((fp, dv_payload(poss), int(poss.size)))
        out_dir, new_sid, seq = self._dv_target(meta)
        rows = _write_dv_containers(out_dir, encoded, new_sid, seq)
        return self._dv_entries(meta, rows, seq)

    def _write_deletion_vectors(
        self,
        meta: dict[str, Any],
        positions: DataFrame,
        max_files: int,
    ) -> list[dict[str, Any]]:
        """Distributed DV lane: Puffin containers with one
        ``deletion-vector-v1`` blob (portable 64-bit roaring bitmap,
        Delta-compatible framing — format/dv.py) per referenced data
        file.

        Scale shape: per-file roaring payloads ENCODE IN PARALLEL on the
        executors (applyInPandas per referenced file — the numpy-packed
        encode in format/roaring.py), then executor tasks assemble the
        containers from the compressed payloads; raw positions never
        route through the driver OR any single process — the widest
        single-process frame is one container's worth of compressed
        bitmaps. The driver receives only one metadata row per container.
        ``max_files`` (metadata-known: the snapshot's data-file count)
        sizes the writer: ceil(max_files / _DV_BLOBS_PER_CONTAINER) tasks
        via repartitionByRange on file_path (spec-legal: the manifest
        addresses each blob by container path + offset/length), so a
        delete touching millions of files never funnels through one task
        (round-7 verdict "What's wrong" #4), and no counting job runs."""
        out_dir, new_sid, seq = self._dv_target(meta)

        def encode(pdf):
            import numpy as np
            import pandas as pd

            from lakekeeper_spark.format.dv import dv_payload

            poss = np.unique(pdf["pos"].to_numpy(np.int64))
            return pd.DataFrame(
                {
                    "file_path": [pdf["file_path"].iloc[0]],
                    "payload": [dv_payload(poss)],
                    "cardinality": [int(poss.size)],
                }
            )

        def write_container(batches):
            import pandas as pd

            encoded = [
                (str(fp), bytes(payload), int(card))
                for pdf in batches
                for fp, payload, card in zip(
                    pdf["file_path"], pdf["payload"], pdf["cardinality"]
                )
            ]
            rows = _write_dv_containers(out_dir, encoded, new_sid, seq)
            if rows:
                yield pd.DataFrame(rows)

        rows = (
            positions.groupBy("file_path")
            .applyInPandas(encode, "file_path string, payload binary, cardinality long")
            .repartitionByRange(
                -(-max(max_files, 1) // _DV_BLOBS_PER_CONTAINER), "file_path"
            )
            .mapInPandas(
                write_container,
                "path string, size long, record_count long, layout string",
            )
            .collect()
        )
        return self._dv_entries(meta, rows, seq)

    def _dv_entries(
        self, meta: dict[str, Any], rows: list[Any], seq: int
    ) -> list[dict[str, Any]]:
        """Manifest entries for DV-container metadata rows."""
        entries = []
        for row in sorted(rows, key=lambda r: r["path"]):
            layout = json.loads(row["layout"])
            entries.append(
                {
                    "path": Path(row["path"])
                    .relative_to(meta["location"])
                    .as_posix(),
                    "file-size-in-bytes": int(row["size"]),
                    "record-count": int(row["record_count"]),
                    "partition": {},
                    "schema-id": meta["current-schema-id"],
                    "content": "deletion-vectors",
                    "sequence-number": seq,
                    "referenced-files": sorted(layout),
                    # per-blob container layout {referenced file: [offset,
                    # length, cardinality]} — feeds v3 manifest fields
                    # 143/144/145 so external readers can locate each blob
                    "dv-blobs": {
                        fp: [int(v) for v in vals]
                        for fp, vals in sorted(layout.items())
                    },
                }
            )
        return entries

    def rewrite_position_deletes(self) -> dict[str, Any]:
        """Materialize tombstones (CALL rewrite_position_delete_files +
        minor compaction): rewrite ONLY data files that have pending
        deletes, drop every delete entry. Untouched files are kept as-is,
        so the job is proportional to the deleted fraction, not table
        size."""
        meta = self.metadata()
        snap = self._resolve_snapshot(meta)
        if snap is None:
            raise CatalogError("table has no data")
        data_entries, delete_entries = _split_manifest(snapshot_entries(snap))
        if not delete_entries:
            return {"rewritten-data-files": 0, "removed-delete-files": 0}
        schema = self._current_schema(meta)
        pos_like = [e for e in delete_entries if e.get("content") != "equality-deletes"]
        eq_dels = [e for e in delete_entries if e.get("content") == "equality-deletes"]
        targets: set[str] = set()
        if pos_like:
            if all("referenced-files" in e for e in pos_like):
                # r17: every positional artifact this engine writes carries
                # its referenced data-file list in the manifest entry — the
                # target set is pure metadata, no decode job needed
                for e in pos_like:
                    targets.update(e["referenced-files"])
            else:
                dels = self._read_positional(meta, pos_like)
                # distinct FILE LIST only (metadata-sized) reaches the driver
                targets = {
                    r["file_path"]
                    for r in dels.select("file_path").distinct().collect()
                }
        # equality deletes address every data file with a strictly older
        # sequence — those files must be rewritten to materialize them
        max_eq_seq = max((e.get("sequence-number", 0) for e in eq_dels), default=0)
        affected = [
            e
            for e in data_entries
            if e["path"] in targets or e.get("sequence-number", 0) < max_eq_seq
        ]
        # v3: materialization preserves row ids — survivors carry their
        # resolved id into the rewritten files (per-row inheritance).
        # When every tombstoned data file was since rewritten (e.g. by a
        # later copy-on-write DML), the delete entries are dead weight
        # pointing at vanished files: they drop without any IO.
        new_entries = []
        if affected:
            df = self._live_rows(
                meta,
                schema,
                affected,
                delete_entries,
                snap["schema-id"],
                lineage=meta.get("format-version", 2) >= 3,
            )
            new_entries = self._write_files(meta, df)
        self._commit_snapshot(
            meta,
            [e["path"] for e in affected + delete_entries],
            "replace",
            appended=new_entries,
            extra_summary={
                "removed-delete-files": len(delete_entries),
                "rewritten-data-files": len(affected),
            },
        )
        return {
            "rewritten-data-files": len(affected),
            "removed-delete-files": len(delete_entries),
        }

    # ---------------- row-level DML ----------------
    # DELETE, UPDATE and MERGE each have ONE body: the prologue
    # (_dml_base) loads the metadata once and reads the snapshot's rows
    # once; the verb builds its matched set and, for UPDATE and MERGE, its
    # row images (_dml_images) from that read; ``mode`` (Iceberg's
    # write.delete/update/merge.mode) picks only the commit step —
    # _mor_commit writes tombstones for the matched positions,
    # _cow_commit rewrites the matched set's data files.
    _DML_MODES = ("copy-on-write", "merge-on-read")

    def _dml_base(
        self, verb: str, mode: str
    ) -> tuple[dict[str, Any], dict[str, Any], DataFrame]:
        """The one prologue of DELETE/UPDATE/MERGE: rejects an unknown
        ``mode``, loads the metadata ONCE and returns (meta, snap, live).

        ``snap`` is both the statement's read base and its commit base:
        _commit_snapshot asserts the ref still points at it, so a writer
        that commits in between fails this statement with
        CommitFailedException instead of being committed over. ``live`` is
        the one read of its rows (_live_rows: positioned, with v3 lineage),
        aliased ``t``. Row-level delete files — every mode but
        copy-on-write — are an Iceberg v2 feature (reference serves v1-3
        with the same gate; upgrade guard commit_tables.rs:22-31)."""
        modes = self._DML_MODES + (("equality",) if verb == "delete" else ())
        if mode not in modes:
            raise CatalogError(
                f"unknown {verb} mode {mode!r}; valid modes: {', '.join(modes)}"
            )
        meta = self.metadata()
        fv = meta.get("format-version", 2)
        if mode != "copy-on-write" and fv < 2:
            raise CatalogError(
                f"{mode} {verb} requires format-version >= 2 (table is v{fv});"
                " upgrade-format-version first or use copy-on-write"
            )
        snap = self._resolve_snapshot(meta)
        if snap is None:
            raise CatalogError("table has no data")
        live = self._live_rows(
            meta,
            self._current_schema(meta),
            *_split_manifest(snapshot_entries(snap)),
            snap["schema-id"],
            lineage=fv >= 3,
            keep_pos=True,
        )
        return meta, snap, live.alias("t")

    def _dml_images(
        self,
        meta: dict[str, Any],
        rows: DataFrame,
        hit: F.Column,
        assignments: dict[str, str],
    ) -> DataFrame:
        """The one row-image projection of UPDATE and MERGE: every schema
        column of the target ``t`` in ``rows``, each assigned one as
        ``CASE WHEN hit THEN CAST(expr AS declared type) ELSE column``
        (the cast is _store_cast). Every assignment reads the PRE-statement row (SQL
        semantics: SET x = y, y = x swaps). The cast comes before the CASE
        because CASE coerces its branches to one common type: an uncast
        double assignment to a bigint column would round-trip every
        unassigned value of the rewritten files through double.

        v3 lineage: every row keeps its ``_row_id``; a hit row of a
        statement that assigns anything stores a NULL
        ``_last_updated_sequence_number`` (it inherits the new commit's
        sequence number) and every other row keeps its own. ``_file``
        passes through for the commit step."""
        types = {
            f.name: f.dataType
            for f in schema_to_struct(self._current_schema(meta)).fields
        }
        out = []
        for c, typ in types.items():
            col = F.col(f"t.{c}")
            if c in assignments:
                col = F.when(hit, _store_cast(F.expr(assignments[c]), typ, c)).otherwise(col)
            out.append(col.alias(c))
        if meta.get("format-version", 2) >= 3:
            seq = F.col("t._last_updated_sequence_number")
            if assignments:
                seq = F.when(hit, F.lit(None).cast("long")).otherwise(seq)
            out += [
                F.col("t._row_id").alias("_row_id"),
                seq.alias("_last_updated_sequence_number"),
            ]
        return rows.select(*out, F.col("t._file").alias("_file"))

    def _cow_commit(
        self,
        meta: dict[str, Any],
        snap: dict[str, Any],
        matched: DataFrame,
        rows: DataFrame,
        operation: str,
        inserts: DataFrame | None = None,
    ) -> dict[str, Any]:
        """The copy-on-write commit step of DELETE/UPDATE/MERGE: rewrites
        ONLY the distinct data files of the ``matched`` set and keeps the
        rest (reference test_spark.py:1321-1340 drives DELETE FROM).
        ``rows`` is the statement's image of every live row, with its
        ``_file``: the rows of the matched files become the new files, and
        MERGE ``inserts`` append. Only the distinct file list
        (metadata-sized) reaches the driver; the rows never do. A
        statement that matched nothing and inserts nothing commits no
        snapshot, as in merge-on-read.

        On v3 the rewrite preserves row lineage (spec: a rewritten row
        keeps its _row_id): ``rows`` carry each row's resolved id and the
        new files store it; inserted rows store NULL and inherit fresh ids
        from the new file's claimed range."""
        rel = self._rel_file(meta["location"])
        affected = {r[0] for r in matched.select(rel).distinct().collect()}
        # the rewritten data files leave the snapshot, and so does every
        # delete entry whose referenced data files were all rewritten: its
        # tombstones would point only at vanished files, costing scans
        # the anti-join path (and accumulating forever). Entries without
        # referenced-files (pre-upgrade tombstones) are conservatively kept.
        dead = {
            e["path"]
            for e in snapshot_delete_entries(snap)
            if e.get("content") in ("position-deletes", "deletion-vectors")
            and e.get("referenced-files") is not None
            and all(r in affected for r in e["referenced-files"])
        }
        new_rows = inserts
        if affected:
            rewritten = rows.filter(rel.isin(sorted(affected))).drop("_file", "_pos")
            new_rows = rewritten if inserts is None else rewritten.unionByName(inserts)
        written = self._write_files(meta, new_rows) if new_rows is not None else []
        if not affected and not written:
            return meta  # nothing matched, nothing inserted: no snapshot
        return self._commit_snapshot(
            meta,
            affected | dead,
            operation,
            appended=written,
            extra_summary={"rewritten-files": len(affected)},
        )

    def delete_where(
        self,
        condition: str,
        mode: str = "copy-on-write",
        equality_cols: list[str] | None = None,
    ) -> dict[str, Any]:
        """DELETE FROM ... WHERE ``condition``. A row is deleted only where
        the condition is TRUE: a row where it is NULL survives (SQL), in
        every mode.

        ``mode`` mirrors Iceberg's write.delete.mode: ``copy-on-write``
        rewrites the data files holding matched rows; ``merge-on-read``
        writes position-delete tombstones on v2 tables and consolidated
        DELETION VECTORS on v3 (reference v3 DELETE, test_spark.py:1321-1340);
        ``equality`` writes an equality-delete file of the matching rows'
        ``equality_cols`` values — applied to strictly-older data files at
        scan time (streaming-writer semantics: delete without reading any
        data file). Any other mode raises CatalogError, as does a
        row-level mode on a v1 table."""
        meta, snap, live = self._dml_base("delete", mode)
        if mode == "equality":
            return self._equality_delete(meta, snap, live, condition, equality_cols)
        hit = F.coalesce(F.expr(condition), F.lit(False))
        matched = live.filter(hit)
        if mode == "merge-on-read":
            return self._mor_commit(meta, snap, matched, "delete")
        return self._cow_commit(meta, snap, matched, live.filter(~hit), "delete")

    def _equality_delete(
        self,
        meta: dict[str, Any],
        snap: dict[str, Any],
        live: DataFrame,
        condition: str,
        cols: list[str] | None,
    ) -> dict[str, Any]:
        """Write an equality-delete file: the DISTINCT equality-column
        values of currently-matching rows. No data file is read back or
        rewritten at delete time — the cost model that lets CDC/streaming
        writers delete at high frequency (Iceberg spec 'Equality Delete
        Files'). Scans anti-join it against strictly-older files only, so
        rows appended AFTER this delete with the same key survive."""
        if not cols:
            raise CatalogError("equality delete requires equality_cols")
        by_name = {f["name"]: f["id"] for f in self._current_schema(meta)["fields"]}
        missing = [c for c in cols if c not in by_name]
        if missing:
            raise CatalogError(f"unknown equality columns: {missing}")
        del_rows = live.filter(condition).select(*cols).distinct()
        entries = self._write_delete_files(
            meta,
            del_rows,
            content="equality-deletes",
            extra_fields={"equality-ids": [by_name[c] for c in cols]},
        )
        if not entries:
            return meta
        # v3 lineage: the victim set is every LIVE row whose key matches a
        # deleted key (the key of a matching row can hit OTHER live rows
        # the condition itself didn't select) — the same join the
        # changelog's equality branch performs; recorded as bounded id
        # ranges so metadata-only CDC skips that parent read. NULL keys
        # MATCH (eqNullSafe) because _apply_equality_deletes kills rows
        # with NULL keys too — a name-list join would drop them and the
        # CDC stream would miss real deletions.
        ranges = (
            self._row_id_ranges(
                _null_safe_semi(live, del_rows, cols).select("_row_id")
            )
            if meta.get("format-version", 2) >= 3
            else None
        )
        return self._commit_snapshot(
            meta,
            None,
            "delete",
            appended=entries,
            extra_summary={
                "added-delete-files": len(entries),
                "added-equality-deletes": sum(e["record-count"] for e in entries),
                **({"deleted-row-id-ranges": ranges} if ranges else {}),
            },
        )

    def update_where(
        self, condition: str, assignments: dict[str, str], mode: str = "copy-on-write"
    ) -> dict[str, Any]:
        """UPDATE ... SET ``assignments`` (column -> SQL expression) WHERE
        ``condition``. The condition is evaluated once per row, against the
        pre-update row, and a row where it is NULL is not updated (SQL).
        Each assigned value is cast to its column's declared type
        (_store_cast): a value that does not fit fails the statement,
        whatever spark.sql.ansi.enabled says.

        ``mode`` mirrors Iceberg's write.update.mode: ``copy-on-write``
        rewrites the data files holding matched rows; ``merge-on-read``
        commits tombstones for the matched rows (v3: deletion vectors) plus
        an append of their updated images, and needs format-version >= 2.
        Any other mode raises CatalogError."""
        meta, snap, live = self._dml_base("update", mode)
        hit_col = _fresh_names(live, "__upd_hit")[0]
        flagged = live.withColumn(hit_col, F.coalesce(F.expr(condition), F.lit(False)))
        matched = flagged.filter(F.col(hit_col))

        def project(rows: DataFrame) -> DataFrame:
            return self._dml_images(meta, rows, F.col(hit_col), assignments)

        if mode == "merge-on-read":
            return self._mor_commit(meta, snap, matched, "overwrite", project)
        return self._cow_commit(meta, snap, matched, project(flagged), "overwrite")

    def merge(
        self,
        source: DataFrame,
        on: str,
        matched_update: dict[str, str] | None = None,
        not_matched_insert: bool = True,
        mode: str = "copy-on-write",
    ) -> dict[str, Any]:
        """MERGE INTO (reference test_spark.py:155-172): matched -> update,
        not-matched -> insert. ``on`` is any condition over the ``t.``
        (target) and ``s.`` (source) aliases, including composite keys
        ("t.a = s.a AND t.b = s.b"); a pair where it is NULL does not
        match (SQL join semantics), so its source row is inserted. The
        source never collects to the driver, so arbitrarily large merge
        sources work. Updated and inserted values are cast to their
        column's declared type (_store_cast): a value that does not fit
        fails the statement, whatever spark.sql.ansi.enabled says.

        ``mode`` mirrors Iceberg's write.merge.mode: ``copy-on-write``
        rewrites the data files holding matched rows and appends the
        inserts; ``merge-on-read`` commits tombstones for the matched rows
        plus an append of their updated images and the inserts — one
        commit, no data file rewritten; scans pay the anti-join until
        rewrite_position_deletes. It needs format-version >= 2. Any other
        mode raises CatalogError. Iceberg records MERGE commits as
        operation=overwrite (the spec's closed operation set). Without
        ``matched_update`` the statement only inserts, in every mode: it
        commits the inserts as an ``append`` (nothing when there are
        none)."""
        meta, snap, live = self._dml_base("merge", mode)
        # marker column: match detection that works for any composite key
        # (name picked fresh so a source column can't shadow it)
        mcol = _fresh_names(source, "__src_match")[0]
        src = source.withColumn(mcol, F.lit(1)).alias("s")
        cond = F.expr(on)
        joined = live.join(src, cond, "left_outer")
        hit = F.col(f"s.{mcol}").isNotNull()
        matched = joined.filter(hit)

        def project(rows: DataFrame) -> DataFrame:
            return self._dml_images(meta, rows, hit, matched_update)

        inserts = None
        if not_matched_insert:
            inserts = src.join(live, cond, "left_anti").select(
                *_insert_cols(self._current_schema(meta), source.columns)
            )
        if matched_update is None:
            # insert-only: matched rows stay as they are, so the statement
            # is an append of the anti-join — no tombstone, no rewrite. An
            # empty anti-join commits nothing
            written = self._write_files(meta, inserts) if inserts is not None else []
            if not written:
                return meta
            return self._commit_snapshot(meta, None, "append", appended=written)
        if inserts is not None and meta.get("format-version", 2) >= 3:
            # the rewritten or re-imaged rows store their lineage; the
            # inserted ones store NULL and inherit fresh ids
            inserts = inserts.select(
                "*",
                *(
                    F.lit(None).cast("long").alias(c)
                    for c in ("_row_id", "_last_updated_sequence_number")
                ),
            )
        if mode == "merge-on-read":
            return self._mor_commit(
                meta,
                snap,
                matched,
                "overwrite",
                project,
                inserts,
                distinct=True,
                extra_summary={"merge-mode": "merge-on-read"},
            )
        return self._cow_commit(
            meta, snap, matched, project(joined), "overwrite", inserts
        )

    # ---------------- refs / time travel ----------------
    def create_tag(
        self, tag: str, snapshot_id: int | None = None, max_ref_age_ms: int | None = None
    ) -> None:
        meta = self.metadata()
        sid = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
        upd = {"action": "set-snapshot-ref", "ref-name": tag, "snapshot-id": sid, "type": "tag"}
        if max_ref_age_ms is not None:
            upd["max-ref-age-ms"] = max_ref_age_ms
        self._commit([], [upd])

    def create_branch(self, branch: str, snapshot_id: int | None = None) -> None:
        meta = self.metadata()
        sid = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
        self._commit([],
            [
                {
                    "action": "set-snapshot-ref",
                    "ref-name": branch,
                    "snapshot-id": sid,
                    "type": "branch",
                }
            ],
        )

    # ---------------- snapshot management (rollback / WAP) ----------------
    def rollback_to_snapshot(self, snapshot_id: int) -> dict[str, Any]:
        """Iceberg rollback_to_snapshot / set_current_snapshot procedure:
        main moves to an existing snapshot; no files are touched, and the
        abandoned snapshots stay reachable for expire_snapshots to judge.
        Guarded by assert-ref-snapshot-id so a concurrent writer can't be
        silently overwritten (reference commit_tables.rs requirements)."""
        meta = self.metadata()
        self._snapshot(meta, snapshot_id)  # must exist
        cur = meta["refs"].get(MAIN)
        return self._commit(
            [
                {"type": "assert-table-uuid", "uuid": meta["table-uuid"]},
                {
                    "type": "assert-ref-snapshot-id",
                    "ref": MAIN,
                    "snapshot-id": cur["snapshot-id"] if cur else None,
                },
            ],
            [
                {
                    "action": "set-snapshot-ref",
                    "ref-name": MAIN,
                    "snapshot-id": snapshot_id,
                }
            ],
        )

    set_current_snapshot = rollback_to_snapshot

    def _stage_wap(
        self, new_entries: list[dict[str, Any]], wap_id: str, branch: str = MAIN
    ) -> dict[str, Any]:
        """AddSnapshot with NO SetSnapshotRef: the snapshot exists (readable
        by id for audit) but no branch sees it. The target branch is
        recorded in the summary so publish_wap lands it where the writer
        asked (append(branch=..., wap_id=...) is honored, not ignored)."""
        meta = self.metadata()
        snapshot = self._snapshot_payload(
            meta,
            self._branch_head(meta, branch),
            None,
            "append",
            extra_summary={"wap.id": wap_id, "wap.branch": branch},
            appended=new_entries,
        )
        return self._commit(
            [{"type": "assert-table-uuid", "uuid": meta["table-uuid"]}],
            [{"action": "add-snapshot", "snapshot": snapshot}],
        )

    def cherry_pick(self, snapshot_id: int, branch: str = MAIN) -> dict[str, Any]:
        """cherrypick_snapshot procedure: re-apply the ADDED files of an
        append/staged snapshot on top of the current branch head as a new
        commit. The delta is the file-level manifest diff against the
        source snapshot's parent — metadata-sized, no data moves.

        Only append snapshots may be cherry-picked (Iceberg's
        cherrypick_snapshot rejects everything else): re-adding the
        rewritten files of a delete/overwrite/replace snapshot on top of
        a head that still holds the originals would duplicate rows."""
        meta = self.metadata()
        src = self._snapshot(meta, snapshot_id)
        if src["summary"].get("operation") != "append":
            raise CatalogError(
                f"cannot cherry-pick non-append snapshot {snapshot_id} "
                f"(operation={src['summary'].get('operation')!r})"
            )
        parent_id = src.get("parent-snapshot-id")
        parent = self._snapshot(meta, parent_id) if parent_id is not None else None
        added = diff_snapshots(parent, src)[0]
        cur = self._branch_head(meta, branch)
        # files ALREADY on the branch head must not re-add (a repeated
        # cherry-pick, or picking an ancestor's append, is a data no-op —
        # without this filter each file would land in two manifests and
        # scans would duplicate its rows)
        cur_paths = {e["path"] for e in snapshot_entries(cur)}
        added = [e for e in added if e["path"] not in cur_paths]
        extra: dict[str, Any] = {"cherry-picked-from": snapshot_id}
        if src["summary"].get("wap.id"):
            extra["wap.id"] = src["summary"]["wap.id"]
            extra["wap.published"] = True
        return self._commit_snapshot(
            meta,
            None,
            "append",
            branch,
            extra_summary=extra,
            # the picked entries keep their ORIGINAL sequence numbers
            # (and, on v3, their assigned row-id ranges)
            appended=added,
        )

    def publish_wap(self, wap_id: str) -> dict[str, Any]:
        """Publish a staged write-audit-publish snapshot onto main
        (cherry-pick), exactly once per wap id."""
        meta = self.metadata()
        published = {
            s["summary"].get("wap.id")
            for s in meta["snapshots"]
            if s["summary"].get("wap.published")
        }
        if wap_id in published:
            raise CatalogError(f"wap id already published: {wap_id}")
        staged = next(
            (
                s
                for s in meta["snapshots"]
                if s["summary"].get("wap.id") == wap_id
                and not s["summary"].get("wap.published")
            ),
            None,
        )
        if staged is None:
            raise NoSuchEntity(f"no staged snapshot with wap id {wap_id}")
        return self.cherry_pick(
            staged["snapshot-id"], branch=staged["summary"].get("wap.branch", MAIN)
        )

    def drop_ref(self, name: str) -> None:
        self._commit([],
            [{"action": "remove-snapshot-ref", "ref-name": name}],
        )

    # ---------------- schema evolution ----------------
    def add_column(
        self,
        name: str,
        ddl_type: str,
        required: bool = False,
        initial_default: Any | None = None,
        write_default: Any | None = None,
    ) -> None:
        """ADD COLUMN, optionally with Iceberg v3 default values:
        ``initial_default`` is what rows written BEFORE the column
        existed read back (instead of NULL); ``write_default`` fills the
        column when a writer omits it. Following engine ALTER TABLE ...
        ADD COLUMN ... DEFAULT semantics, giving only initial_default
        sets write_default to the same value. Defaults use the spec's
        JSON single-value forms (numbers/strings/bools; date/timestamp
        as ISO strings) and require format-version >= 3 — the commit
        engine rejects them on v1/v2 tables. A required column with no
        initial_default would make pre-existing rows unreadable, so
        that combination is rejected when the table has data."""
        meta = self.metadata()
        schema = self._current_schema(meta)
        # normalize the DDL spelling to the Iceberg type (nested ids for
        # array/map/struct columns allocate past the new field's id)
        fid = next_field_id(schema)
        counter = iter(range(fid + 1, fid + 1000))
        itype = _iceberg_type_of(_parse_type(ddl_type), lambda: next(counter))
        field: dict[str, Any] = {
            "id": fid, "name": name, "type": itype, "required": required,
        }
        if initial_default is not None and write_default is None:
            write_default = initial_default
        if initial_default is not None:
            field["initial-default"] = initial_default
        if write_default is not None:
            field["write-default"] = write_default
        if required and initial_default is None:
            snap = self._resolve_snapshot(meta)
            if snap and snapshot_file_count(snap):
                raise CatalogError(
                    f"cannot add required column {name!r} without an "
                    "initial-default to a table with existing data"
                )
        new_schema = {
            "schema-id": max(s["schema-id"] for s in meta["schemas"]) + 1,
            "fields": schema["fields"] + [field],
        }
        self._commit([{"type": "assert-current-schema-id", "current-schema-id": meta["current-schema-id"]}],
            [
                {"action": "add-schema", "schema": new_schema},
                {"action": "set-current-schema", "schema-id": new_schema["schema-id"]},
            ],
        )

    def drop_column(self, name: str) -> None:
        meta = self.metadata()
        schema = self._current_schema(meta)
        if all(f["name"] != name for f in schema["fields"]):
            raise NoSuchEntity(f"column {name} not found")
        new_schema = {
            "schema-id": max(s["schema-id"] for s in meta["schemas"]) + 1,
            "fields": [f for f in schema["fields"] if f["name"] != name],
        }
        self._commit([{"type": "assert-current-schema-id", "current-schema-id": meta["current-schema-id"]}],
            [
                {"action": "add-schema", "schema": new_schema},
                {"action": "set-current-schema", "schema-id": new_schema["schema-id"]},
            ],
        )

    def rename_column(self, name: str, new_name: str) -> None:
        """ALTER TABLE RENAME COLUMN: a new schema version with the SAME
        field id under the new name; field-id-based reads (_read_entries)
        surface old files' data under the new name."""
        meta = self.metadata()
        schema = self._current_schema(meta)
        if all(f["name"] != name for f in schema["fields"]):
            raise NoSuchEntity(f"column {name} not found")
        if any(f["name"] == new_name for f in schema["fields"]):
            raise CatalogError(f"column {new_name} already exists")
        new_schema = {
            "schema-id": max(s["schema-id"] for s in meta["schemas"]) + 1,
            "fields": [
                {**f, "name": new_name} if f["name"] == name else dict(f)
                for f in schema["fields"]
            ],
        }
        self._commit(
            [{"type": "assert-current-schema-id", "current-schema-id": meta["current-schema-id"]}],
            [
                {"action": "add-schema", "schema": new_schema},
                {"action": "set-current-schema", "schema-id": new_schema["schema-id"]},
            ],
        )

    # Iceberg type names; tinyint/smallint appear only in legacy metadata
    _WIDENINGS = {("int", "long"), ("float", "double"), ("smallint", "int"),
                  ("smallint", "long"), ("tinyint", "int"), ("tinyint", "long")}

    def widen_column(self, name: str, new_type: str) -> None:
        """Iceberg type promotion (int->long, float->double): a new schema
        version with the same field id at the wider type; old files read
        through the field-id cast in _read_entries. Accepts either Iceberg
        ("long") or Spark DDL ("bigint") spellings; stores Iceberg."""
        new_type = _ICEBERG_PRIM.get(new_type, new_type)
        meta = self.metadata()
        schema = self._current_schema(meta)
        field = next((f for f in schema["fields"] if f["name"] == name), None)
        if field is None:
            raise NoSuchEntity(f"column {name} not found")
        if (_ICEBERG_PRIM.get(field["type"], field["type"]), new_type) not in self._WIDENINGS:
            raise CatalogError(
                f"illegal promotion {field['type']} -> {new_type} (Iceberg "
                "allows widening only: int->long, float->double)"
            )
        new_schema = {
            "schema-id": max(s["schema-id"] for s in meta["schemas"]) + 1,
            "fields": [
                {**f, "type": new_type} if f["name"] == name else dict(f)
                for f in schema["fields"]
            ],
        }
        self._commit(
            [{"type": "assert-current-schema-id", "current-schema-id": meta["current-schema-id"]}],
            [
                {"action": "add-schema", "schema": new_schema},
                {"action": "set-current-schema", "schema-id": new_schema["schema-id"]},
            ],
        )

    # ---------------- partition evolution ----------------
    def add_partition_field(self, source_name: str, transform: str, name: str | None = None) -> None:
        """ALTER TABLE ... ADD PARTITION FIELD bucket(16, c) parity
        (reference test_spark.py:616-644)."""
        meta = self.metadata()
        spec = self._default_spec(meta)
        field_name = name or f"{source_name}_{transform.replace('[', '_').rstrip(']')}"
        new_spec = {
            "spec-id": max(s["spec-id"] for s in meta["partition-specs"]) + 1,
            "fields": spec["fields"]
            + [
                {
                    "field-id": meta["last-partition-id"] + 1,
                    "source-name": source_name,
                    "transform": transform,
                    "name": field_name,
                }
            ],
        }
        self._commit([{"type": "assert-default-spec-id", "default-spec-id": meta["default-spec-id"]}],
            [
                {"action": "add-spec", "spec": new_spec},
                {"action": "set-default-spec", "spec-id": new_spec["spec-id"]},
            ],
        )

    # ---------------- maintenance ----------------
    def rewrite_data_files(
        self,
        target_files: int = 1,
        zorder_by: list[str] | None = None,
        preserve_row_ids: bool = False,
    ) -> dict[str, Any]:
        """Compaction parity with CALL system.rewrite_data_files
        (reference test_spark.py:710-738: N files -> 1). With
        ``zorder_by``, rows are re-clustered on the interleaved-bit
        Z-value of the given integer columns before the rewrite
        (OPTIMIZE ... ZORDER BY): every output file then covers a small
        HYPER-RECTANGLE of the key space, so min/max file skipping works
        on ALL the z-ordered columns at once instead of only the leading
        sort column.

        ``preserve_row_ids=True`` (v3 tables) keeps _row_id AND
        _last_updated_sequence_number STABLE across the rewrite the way
        lineage-aware engines do: the compaction read carries each row's
        resolved id + last-updated sequence number and the output files
        MATERIALIZE both as physical columns — per the spec's PER-ROW
        inheritance rule a stored value wins over the file's claimed
        range / data sequence number, so carried rows neither change ids
        nor read the rewrite's sequence number as their last update (CDC
        consumers see no phantom updates after compaction). Default
        False keeps the fresh-id behavior (cheaper files; ids change
        across compaction). Copy-on-write DELETE/UPDATE/MERGE preserve
        ids automatically on v3 tables (_cow_commit)."""
        meta = self.metadata()
        snap = self._resolve_snapshot(meta)
        if snap is None or not snapshot_file_count(snap):
            raise CatalogError("nothing to compact")
        if preserve_row_ids:
            if meta.get("format-version", 2) < 3:
                raise CatalogError(
                    "preserve_row_ids requires format-version >= 3"
                )
            df = self.scan(row_lineage=True)
        else:
            df = self.scan()
        if zorder_by:
            z = F.expr(_zvalue_expr(zorder_by))
            zc = _fresh_names(df, "__z")[0]
            df = (
                df.withColumn(zc, z)
                .repartitionByRange(target_files, zc)
                .sortWithinPartitions(zc)
                .drop(zc)
            )
        else:
            df = df.coalesce(target_files)
        entries = self._write_files(meta, df, distribute=False)
        return self._commit_snapshot(
            meta,
            [e["path"] for e in snapshot_entries(snap)],
            "replace",
            appended=entries,
            extra_summary={
                "compacted-from": snapshot_file_count(snap),
                **({"zorder-by": zorder_by} if zorder_by else {}),
                **({"preserved-row-ids": True} if preserve_row_ids else {}),
            },
        )

    def expire_snapshots(self, older_than_ms: int, retain_last: int = 1) -> list[int]:
        """Remove unreferenced snapshots older than the horizon; purge files
        that only they referenced (reference expire-snapshots task queue,
        docs/table-maintenance.md). Refs past their ``max-ref-age-ms``
        retention (CREATE TAG ... RETAIN n DAYS, test_spark.py:647-676)
        are dropped first, so their snapshots become expirable."""
        meta = self.metadata()
        now = _now_ms()
        for ref_name, ref in list(meta["refs"].items()):
            max_age = ref.get("max-ref-age-ms")
            if max_age is None or ref_name == MAIN:
                continue
            snap = self._snapshot(meta, ref["snapshot-id"])
            if now - snap["timestamp-ms"] > max_age:
                self._commit(
                    [], [{"action": "remove-snapshot-ref", "ref-name": ref_name}]
                )
        meta = self.metadata()
        keep_ids = {r["snapshot-id"] for r in meta["refs"].values()}
        chrono = sorted(meta["snapshots"], key=lambda s: s["timestamp-ms"])
        keep_ids.update(s["snapshot-id"] for s in chrono[-retain_last:])
        victims = [
            s["snapshot-id"]
            for s in chrono
            if s["timestamp-ms"] < older_than_ms and s["snapshot-id"] not in keep_ids
        ]
        if not victims:
            return []
        retained = [s for s in meta["snapshots"] if s["snapshot-id"] not in victims]
        expired = [s for s in meta["snapshots"] if s["snapshot-id"] in victims]
        live_files = {e["path"] for s in retained for e in snapshot_entries(s)}
        orphaned = {
            e["path"] for s in expired for e in snapshot_entries(s)
        } - live_files
        self._commit([],
            [{"action": "remove-snapshots", "snapshot-ids": victims}],
        )
        from ..catalog import identifiers as _ident

        task_scope = {
            "wh_key": _ident.fold(self.warehouse),
            "entity": {"type": "table", "table-id": meta["table-uuid"]},
            "entity_name": [*self.levels, self.name],
        }
        for rel in orphaned:
            self.catalog.store.enqueue_task(
                "tabular_purge",
                {"location": f"{meta['location']}/{rel}", "id": meta["table-uuid"]},
                **task_scope,
            )
        # expired snapshots' manifest-list + manifest/bloom sidecar files
        # go with them — EXCEPT files a retained snapshot still references
        # (manifest REUSE means victims and survivors share manifest
        # files; purging a shared one would corrupt live snapshots)
        retained_meta_files = {
            f for s in retained for f in self._manifest_avro_files(s)
        }
        victim_meta_files = {
            f for s in expired for f in self._manifest_avro_files(s)
        } - retained_meta_files
        for victim_file in sorted(victim_meta_files):
            self.catalog.store.enqueue_task(
                "tabular_purge",
                {"location": victim_file, "id": meta["table-uuid"]},
                **task_scope,
            )
        return victims

    @staticmethod
    def _manifest_avro_files(snapshot: dict[str, Any]) -> list[str]:
        """The snapshot's manifest-list, every manifest it references
        (its descriptors; decoded from the Avro list for a registered
        snapshot without them) and any bloom sidecar containers its entries
        point at — the metadata-file set GC must account per snapshot."""
        out: list[str] = []
        ml = snapshot.get("manifest-list")
        if ml:
            out.append(ml)
        if "manifests" in snapshot:
            out.extend(d["path"] for d in snapshot_manifests(snapshot))
        elif ml and ml.endswith(".avro") and Path(ml).exists():
            from .iceberg_manifests import read_manifest_list

            try:
                out.extend(mf["manifest_path"] for mf in read_manifest_list(ml))
            except (ValueError, EOFError, KeyError):
                pass  # unreadable list: purge it alone
        for e in snapshot_entries(snapshot):
            for b in (e.get("bloom") or {}).values():
                if b.get("path"):
                    out.append(b["path"])
        return out

    def remove_orphan_files(
        self,
        older_than_ms: int | None = None,
        dry_run: bool = False,
    ) -> list[str]:
        """Detect (and unless ``dry_run``, delete) files under the table
        location referenced by NO snapshot, metadata-log entry, or
        statistics file — leftovers of failed optimistic-concurrency
        writes. Mirrors the reference's remove_orphan_files task queue
        (docs/table-maintenance.md:57-100): referenced-set scan, recursive
        storage listing, age filter (only files older than the threshold
        are touched, protecting in-progress writes; default
        ``lakekeeper.remove-orphan-files.older-than-ms`` property or 7
        days), and the ``gc.enabled=false`` / ``encryption.key-id`` safety
        guards. Returns the orphan paths found."""
        meta = self.metadata()
        props = meta.get("properties", {})
        if str(props.get("gc.enabled", "true")).lower() == "false":
            raise CatalogError("gc.enabled=false: orphan removal forbidden")
        if props.get("encryption.key-id"):
            raise CatalogError("encrypted table: orphan detection skipped")
        if older_than_ms is None:
            older_than_ms = int(
                props.get(
                    "lakekeeper.remove-orphan-files.older-than-ms",
                    7 * 24 * 3600 * 1000,
                )
            )
        loc = Path(meta["location"])
        referenced = {
            str(loc / e["path"])
            for s in meta["snapshots"]
            for e in snapshot_entries(s)
        }
        referenced.update(e["metadata-file"] for e in meta.get("metadata-log", []))
        referenced.update(
            s.get("statistics-path", "") for s in meta.get("statistics", [])
        )
        referenced.update(
            s.get("statistics-path", "")
            for s in meta.get("partition-statistics", [])
        )
        for s in meta["snapshots"]:
            referenced.update(self._manifest_avro_files(s))
        horizon = _now_ms() - older_than_ms
        orphans = []
        for sub in ("data", "metadata", "stats"):
            base = loc / sub
            if not base.exists():
                continue
            for p in sorted(base.rglob("*")):
                if not p.is_file():
                    continue
                if str(p) in referenced:
                    continue
                if int(p.stat().st_mtime * 1000) > horizon:
                    continue  # too recent: may be an in-progress write
                orphans.append(str(p))
        if not dry_run:
            for f in orphans:
                Path(f).unlink(missing_ok=True)
            self.catalog.store.emit_event(
                "remove-orphan-files",
                None,
                meta["table-uuid"],
                {"n_orphans": len(orphans), "dry-run": False},
            )
        return orphans

    # ---------------- metadata tables ----------------
    _FILES_DDL = (
        "file_path string, file_size_in_bytes long, record_count long,"
        " partition string, bounds string, first_row_id long"
    )

    def _files_of(self, kind_idx: int) -> DataFrame:
        meta = self.metadata()
        snap = self._resolve_snapshot(meta)
        entries = _split_manifest(snapshot_entries(snap))[kind_idx]
        rows = [
            (
                e["path"],
                e["file-size-in-bytes"],
                e["record-count"],
                str(e.get("partition", {})),
                str(e.get("bounds", {})),
                e.get("first-row-id"),  # v3 row lineage; NULL pre-v3
            )
            for e in entries
        ]
        return local_df(self.spark, rows, self._FILES_DDL)

    def files(self) -> DataFrame:
        """Current-snapshot DATA files (Iceberg `files`, content=0)."""
        return self._files_of(0)

    def delete_files(self) -> DataFrame:
        """Current-snapshot position-delete files (Iceberg `delete_files`,
        content=1); populated by merge-on-read DELETE/UPDATE, emptied by
        rewrite_position_deletes / rewrite_data_files."""
        return self._files_of(1)

    def _files_count_of(self, kind_idx: int) -> int:
        """len() of the exact row list `_files_of` would frame — the
        metadata-table cardinality without a Spark job (r17: each
        `files().count()` cost ~2 driver-latency jobs to count a
        LocalRelation whose rows already live on the driver)."""
        meta = self.metadata()
        snap = self._resolve_snapshot(meta)
        return len(_split_manifest(snapshot_entries(snap))[kind_idx])

    def files_count(self) -> int:
        """`files().count()` as pure metadata (same value, no job)."""
        return self._files_count_of(0)

    def delete_files_count(self) -> int:
        """`delete_files().count()` as pure metadata (same value, no job)."""
        return self._files_count_of(1)

    def snapshots(self) -> DataFrame:
        meta = self.metadata()
        rows = [
            (
                s["snapshot-id"],
                s.get("parent-snapshot-id"),
                s["timestamp-ms"],
                s["summary"].get("operation"),
                snapshot_file_count(s),  # descriptor sums: no manifest opened
            )
            for s in meta["snapshots"]
        ]
        return local_df(self.spark, 
            rows,
            "snapshot_id long, parent_id long, committed_at_ms long, operation string,"
            " data_files int",
        )

    def refs(self) -> DataFrame:
        meta = self.metadata()
        rows = [
            (name, r["type"], r["snapshot-id"]) for name, r in meta["refs"].items()
        ]
        return local_df(self.spark, rows, "name string, type string, snapshot_id long")

    def history(self) -> DataFrame:
        meta = self.metadata()
        rows = [(e["timestamp-ms"], e["snapshot-id"]) for e in meta["snapshot-log"]]
        return local_df(self.spark, rows, "made_current_at_ms long, snapshot_id long")

    # The all_* family walks EVERY snapshot, not just the current one
    # (Iceberg all_data_files / all_entries / all_manifests,
    # reference test_spark.py:1251-1280, test_metadata_queries_tables).
    # Manifests are out-of-line Avro sidecars (round 16) loaded through
    # the process-wide manifest cache — and manifest REUSE means a
    # 100-snapshot history shares most manifest files, so these walks
    # open O(distinct manifests), not O(snapshots x files).
    _ALL_ENTRIES_DDL = (
        "snapshot_id long, file_path string, file_size_in_bytes long,"
        " record_count long, partition string"
    )

    def _all_files_of(self, kind_idx: int) -> DataFrame:
        meta = self.metadata()
        seen: dict[str, tuple] = {}
        for s in meta["snapshots"]:
            for e in _split_manifest(snapshot_entries(s))[kind_idx]:
                seen.setdefault(
                    e["path"],
                    (
                        e["path"],
                        e["file-size-in-bytes"],
                        e["record-count"],
                        str(e.get("partition", {})),
                    ),
                )
        return local_df(self.spark, 
            list(seen.values()),
            "file_path string, file_size_in_bytes long, record_count long, partition string",
        )

    def all_data_files(self) -> DataFrame:
        """Distinct data files referenced by ANY snapshot."""
        return self._all_files_of(0)

    def all_delete_files(self) -> DataFrame:
        """Distinct position-delete files referenced by ANY snapshot —
        empty under pure copy-on-write (the reference's expectation
        `len(all_delete_files) == 0` right after CoW operations,
        test_spark.py:1263-1266), populated once merge-on-read DML runs."""
        return self._all_files_of(1)

    def all_entries(self) -> DataFrame:
        """One row per (snapshot, data file) manifest entry."""
        meta = self.metadata()
        rows = [
            (
                s["snapshot-id"],
                e["path"],
                e["file-size-in-bytes"],
                e["record-count"],
                str(e.get("partition", {})),
            )
            for s in meta["snapshots"]
            for e in snapshot_entries(s)
        ]
        return local_df(self.spark, rows, self._ALL_ENTRIES_DDL)

    def all_manifests(self) -> DataFrame:
        """One row per (snapshot, manifest file) — REAL manifest paths;
        a manifest carried across N commits appears under each snapshot
        that references it, by the same path (Iceberg all_manifests
        semantics). Counts come from descriptors, no manifest opened."""
        rows = [
            (
                d["path"],
                s["snapshot-id"],
                d.get("added-files-count", 0) + d.get("existing-files-count", 0),
                d.get("added-rows-count", 0) + d.get("existing-rows-count", 0),
                d.get("length", 0),
            )
            for s in self.metadata()["snapshots"]
            for d in snapshot_manifests(s)
        ]
        return local_df(self.spark, 
            rows,
            "manifest_path string, snapshot_id long, data_file_count int,"
            " record_count long, total_size_in_bytes long",
        )

    def metadata_log_entries(self) -> DataFrame:
        """Previous metadata versions archived by the catalog's commit-time
        metadata-log roll (catalog.py _roll_metadata_log)."""
        meta = self.metadata()
        rows = [
            (e["timestamp-ms"], e["metadata-file"], e.get("latest-snapshot-id"))
            for e in meta.get("metadata-log", [])
        ]
        return local_df(self.spark, 
            rows, "timestamp_ms long, file string, latest_snapshot_id long"
        )

    def partitions(self) -> DataFrame:
        """Current-snapshot per-partition stats (Iceberg `partitions`)."""
        meta = self.metadata()
        snap = self._resolve_snapshot(meta)
        agg: dict[str, list[int]] = {}
        for e in _split_manifest(snapshot_entries(snap))[0]:
            key = str(e.get("partition", {}))
            cur = agg.setdefault(key, [0, 0, 0])
            cur[0] += e["record-count"]
            cur[1] += 1
            cur[2] += e["file-size-in-bytes"]
        rows = [(k, v[0], v[1], v[2]) for k, v in agg.items()]
        return local_df(self.spark, 
            rows,
            "partition string, record_count long, file_count int, total_size_in_bytes long",
        )


