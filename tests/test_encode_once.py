"""The encode-once rule for table metadata (catalog/metadoc.py): a version
is encoded once, as the pooled text a commit stores, and every consumer
that takes the pooled form gets those bytes verbatim — pooled loadTable
replies, 304 revalidations, the archived previous version and pooled
commit replies. The guards count calls to the metadoc functions and the
statements the metastore runs, so they are deterministic.

Also here: If-None-Match lists, ``*`` and foreign tags; the S3 signer's
lookups reading no metadata blob; and the logged traceback of a 500."""

from __future__ import annotations

import json
import logging
import re
import urllib.error
import urllib.request
from collections import Counter
from pathlib import Path

import pytest

from lakekeeper_spark.catalog import catalog as catalog_mod
from lakekeeper_spark.catalog import metadoc
from lakekeeper_spark.catalog.authz import StaticRbacAuthorizer
from lakekeeper_spark.catalog.catalog import Catalog, CatalogError, NotModified
from lakekeeper_spark.catalog.metastore import Metastore
from lakekeeper_spark.format.icelite import SparkTable, _next_seq
from lakekeeper_spark.rest import RestCatalogClient, RestCatalogServer

WH, NS = "wh", ["ns"]
SCHEMA = {
    "type": "struct",
    "schema-id": 0,
    "fields": [{"id": 1, "name": "x", "required": False, "type": "long"}],
}
TABLE_PATH = "/catalog/v1/wh/namespaces/ns/tables/t"


def _append(cat, n: int, name: str = "t") -> None:
    """``n`` one-file appends through ``cat`` (a Catalog or a
    RestCatalogClient): metadata-only commits, no Spark session."""
    writer = SparkTable(None, cat, WH, NS, name)
    for i in range(n):
        meta = writer.metadata()
        entry = {
            "path": f"data/f{i:03d}.parquet",
            "file-size-in-bytes": 1000 + i,
            "record-count": 10,
            "partition": {},
            "schema-id": 0,
            "bounds": {"x": [10 * i, 10 * i + 9]},
            "sequence-number": _next_seq(meta),
        }
        writer._commit_snapshot(meta, None, "append", appended=[entry])


@pytest.fixture()
def served(tmp_path):
    """(catalog, server) with table ns.t holding 4 appended snapshots."""
    catalog = Catalog(
        Metastore(str(tmp_path / "metastore.db")),
        authorizer=StaticRbacAuthorizer(
            grants={None: {"*"}, "outsider": {"get_metadata"}}
        ),
    )
    catalog.create_warehouse(WH, str(tmp_path / "warehouse"))
    catalog.create_namespace(WH, NS)
    catalog.create_table(WH, NS, "t", SCHEMA, format_version=2)
    _append(catalog, 4)
    server = RestCatalogServer(catalog).start()
    yield catalog, server
    server.stop()


def _get(server, path: str, headers: dict[str, str] | None = None):
    """(status, body bytes, headers) of one GET; HTTP errors are returned."""
    req = urllib.request.Request(server.url + path, headers=headers or {})
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, r.read(), dict(r.headers)
    except urllib.error.HTTPError as e:
        return e.code, e.read(), dict(e.headers)


def _stored(catalog: Catalog) -> tuple[str, int]:
    row = catalog.store.one(
        "SELECT metadata, metadata_seq FROM tabulars WHERE name_key='t'"
    )
    return row["metadata"], row["metadata_seq"]


@pytest.fixture()
def metadoc_calls(monkeypatch):
    """Counts of every metadoc encode/decode entry point, wherever bound."""
    calls: Counter[str] = Counter()

    def counting(name, fn):
        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        return wrapper

    for name in ("pack_metadata", "unpack_metadata", "pool_document", "unpack_document"):
        monkeypatch.setattr(metadoc, name, counting(name, getattr(metadoc, name)))
    for name in ("pack_metadata", "unpack_metadata"):
        monkeypatch.setattr(catalog_mod, name, counting(name, getattr(catalog_mod, name)))
    return calls


@pytest.fixture()
def statements(monkeypatch):
    """Every SQL statement run through a Metastore from now on."""
    seen: list[str] = []
    for name in ("one", "query", "execute"):
        orig = getattr(Metastore, name)

        def wrapper(self, sql, params=(), _orig=orig):
            seen.append(sql)
            return _orig(self, sql, params)

        monkeypatch.setattr(Metastore, name, wrapper)
    return seen


def _reads_blob(sql: str) -> bool:
    """True when a statement reads the tabulars metadata column."""
    return "tabulars" in sql and (
        re.search(r"\bmetadata\b", sql) is not None or re.search(r"(^|[\s,.])\*", sql) is not None
    )


# ---- loadTable --------------------------------------------------------------


def test_pooled_load_sends_the_stored_text_verbatim(served, metadoc_calls):
    catalog, server = served
    text, seq = _stored(catalog)
    status, body, headers = _get(server, TABLE_PATH + "?pooled-manifests=true")
    assert status == 200 and headers["ETag"] == f'W/"{seq}"'
    assert metadoc_calls == Counter()  # no parse, pool or encode on the server
    assert body.startswith(b'{"metadata": ' + text.encode() + b", ")
    reply = json.loads(body)
    assert reply["metadata-location"] == reply["metadata"]["location"]
    # the engine client rehydrates it to the library's document
    assert metadoc.unpack_document(reply["metadata"]) == catalog.load_table(WH, NS, "t")[0]


def test_304_reads_no_blob_and_decodes_nothing(served, metadoc_calls, statements):
    catalog, server = served
    _, seq = _stored(catalog)
    statements.clear()
    status, body, _ = _get(
        server, TABLE_PATH + "?pooled-manifests=true", {"If-None-Match": f'W/"{seq}"'}
    )
    assert status == 304 and body == b""
    assert metadoc_calls == Counter()
    tabular_reads = [s for s in statements if "tabulars" in s]
    assert tabular_reads, statements
    assert not [s for s in tabular_reads if _reads_blob(s)]


def test_library_etag_check_reads_blob_only_on_change(served, statements):
    catalog, _ = served
    _, seq = _stored(catalog)
    statements.clear()
    with pytest.raises(NotModified):
        catalog.load_table(WH, NS, "t", etag=seq)
    assert not [s for s in statements if _reads_blob(s)]
    meta, new_seq = catalog.load_table(WH, NS, "t", etag=seq - 1)
    assert new_seq == seq and len(meta["snapshots"]) == 4
    assert [s for s in statements if _reads_blob(s)]


def test_pooled_load_with_snapshots_refs_is_trimmed(served):
    catalog, server = served
    meta, _ = catalog.load_table(WH, NS, "t")
    first = meta["snapshots"][0]["snapshot-id"]
    catalog.commit_table(
        WH, NS, "t", [],
        [{"action": "set-snapshot-ref", "ref-name": "main", "type": "branch",
          "snapshot-id": first}],
    )
    status, body, _ = _get(server, TABLE_PATH + "?pooled-manifests=true&snapshots=refs")
    assert status == 200
    trimmed = metadoc.unpack_document(json.loads(body)["metadata"])
    assert [s["snapshot-id"] for s in trimmed["snapshots"]] == [first]
    assert trimmed["snapshots"][0]["manifests"] == meta["snapshots"][0]["manifests"]
    _, full, _ = _get(server, TABLE_PATH + "?pooled-manifests=true")
    assert len(metadoc.unpack_document(json.loads(full)["metadata"])["snapshots"]) == 4


def test_pooled_load_with_vended_credentials(served):
    catalog, server = served
    status, body, _ = _get(
        server,
        TABLE_PATH + "?pooled-manifests=true",
        {"X-Iceberg-Access-Delegation": "vended-credentials"},
    )
    assert status == 200
    reply = json.loads(body)
    cred = reply["storage-credentials"][0]
    assert cred["prefix"] == reply["metadata"]["location"]
    assert reply["config"]["credentials-revalidate-after-ms"] > 0
    assert reply["metadata"] == json.loads(_stored(catalog)[0])
    # visible but no data grant: a metadata-only reply, still verbatim
    status, body, _ = _get(
        server,
        TABLE_PATH + "?pooled-manifests=true",
        {"X-Iceberg-Access-Delegation": "vended-credentials",
         "Authorization": "Bearer outsider"},
    )
    assert status == 200
    reply = json.loads(body)
    assert "storage-credentials" not in reply
    assert reply["metadata"] == json.loads(_stored(catalog)[0])


# ---- If-None-Match ----------------------------------------------------------


@pytest.mark.parametrize(
    "header, status",
    [
        ('W/"{seq}"', 304),
        ('"{seq}"', 304),
        ('W/"{old}", W/"{seq}"', 304),  # any listed tag matching
        ("*", 304),  # any version of an existing table
        ('W/"{old}", W/"{future}"', 200),
        ('"xyzzy"', 200),  # a foreign entity tag never matches
        ('W/"abc", W/"{old}"', 200),
        ('W/"1_0"', 200),
        ("", 200),
    ],
)
def test_if_none_match_forms(served, header, status):
    catalog, server = served
    _, seq = _stored(catalog)
    value = header.format(seq=seq, old=seq - 1, future=seq + 7)
    got, _, _ = _get(server, TABLE_PATH, {"If-None-Match": value})
    assert got == status


def test_if_none_match_star_on_missing_table_is_404(served):
    _, server = served
    got, _, _ = _get(server, "/catalog/v1/wh/namespaces/ns/tables/nope", {"If-None-Match": "*"})
    assert got == 404


# ---- commit -----------------------------------------------------------------


def test_commit_packs_once_and_archives_the_stored_text(served, metadoc_calls):
    catalog, server = served
    prev_text, prev_seq = _stored(catalog)
    client = RestCatalogClient(server.url)
    meta = client.commit_table(
        WH, NS, "t", [], [{"action": "set-properties", "updates": {"k": "v"}}]
    )
    assert metadoc_calls["pack_metadata"] == 1
    assert metadoc_calls["pool_document"] == 1  # inside that one pack
    archived = meta["metadata-log"][-1]["metadata-file"]
    assert Path(archived).name.startswith(f"{prev_seq:05d}-")
    assert Path(archived).read_text() == prev_text
    text, seq = _stored(catalog)
    assert seq == prev_seq + 1
    assert meta == metadoc.unpack_metadata(text)


def test_pooled_commit_reply_matches_library_result(served, monkeypatch):
    catalog, server = served
    returned = []
    orig = Catalog.commit_table

    def recording(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        returned.append(json.loads(json.dumps(out)))
        return out

    monkeypatch.setattr(Catalog, "commit_table", recording)
    client = RestCatalogClient(server.url)
    _append(client, 2)
    meta = client.commit_table(
        WH, NS, "t", [], [{"action": "set-properties", "updates": {"k": "v"}}]
    )
    assert len(returned) == 3 and meta == returned[-1]
    assert len(meta["snapshots"]) == 6 and all("manifests" in s for s in meta["snapshots"])
    # the wire form is the stored pooled text
    body = json.dumps({"requirements": [], "updates": [
        {"action": "set-properties", "updates": {"k": "w"}}]}).encode()
    req = urllib.request.Request(
        server.url + TABLE_PATH + "?pooled-manifests=true", data=body, method="POST",
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as r:
        raw = r.read()
    assert raw.startswith(b'{"metadata": ' + _stored(catalog)[0].encode() + b", ")
    assert metadoc.unpack_document(json.loads(raw)["metadata"]) == returned[-1]


def test_unflagged_and_replayed_commits_reply_with_the_spec_document(served):
    catalog, server = served
    body = json.dumps({"requirements": [], "updates": [
        {"action": "set-properties", "updates": {"k": "v"}}]}).encode()

    def post(query, key):
        req = urllib.request.Request(
            server.url + TABLE_PATH + query, data=body, method="POST",
            headers={"Content-Type": "application/json", "Idempotency-Key": key},
        )
        with urllib.request.urlopen(req) as r:
            return json.loads(r.read())

    plain = post("", "k1")["metadata"]
    assert metadoc.POOL_KEY not in plain and plain == catalog.load_table(WH, NS, "t")[0]
    first = post("?pooled-manifests=true", "k2")["metadata"]
    assert metadoc.POOL_KEY in first
    replay = post("?pooled-manifests=true", "k2")["metadata"]
    assert metadoc.POOL_KEY not in replay
    assert replay == metadoc.unpack_document(first)


# ---- S3 signer lookups ------------------------------------------------------


def test_signer_lookups_read_no_metadata_blob(served, statements):
    catalog, _ = served
    found = catalog.table_by_location(WH, catalog.load_table(WH, NS, "t")[0]["location"])
    assert found is not None
    levels, name, row = found
    assert (levels, name) == (("ns",), "t")
    assert set(row) == {"id", "name", "location", "deleted_ms", "ns_stored"}
    assert catalog.table_by_id(WH, row["id"])[2] == row
    signer = [s for s in statements if "JOIN namespaces" in s]
    assert len(signer) == 2 and not [s for s in signer if _reads_blob(s)]


# ---- 500s -------------------------------------------------------------------


def test_internal_error_is_logged_with_traceback(served, monkeypatch, caplog):
    catalog, server = served

    def boom(*args, **kwargs):
        raise RuntimeError("metastore fell over")

    monkeypatch.setattr(catalog, "list_tables", boom)
    caplog.set_level(logging.ERROR, logger="lakekeeper_spark.rest.server")
    with pytest.raises(CatalogError, match="InternalServerError"):
        RestCatalogClient(server.url).list_tables(WH, NS)
    records = [r for r in caplog.records if r.name == "lakekeeper_spark.rest.server"]
    assert len(records) == 1
    assert "GET /catalog/v1/wh/namespaces/ns/tables" in records[0].getMessage()
    assert records[0].exc_info[0] is RuntimeError
    assert "Traceback" in caplog.text and "metastore fell over" in caplog.text
