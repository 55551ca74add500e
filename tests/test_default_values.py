"""Iceberg v3 default values: initial-default fills pre-existing rows on
read, write-default fills writer-omitted columns, and the commit engine
rejects defaults below format v3 (the v3 spec's default-value feature;
the reference's commit path delegates the same rules to the iceberg
library and gates v3 behind its format-version policy,
catalog/commit.py here)."""

from __future__ import annotations

import pytest

from lakekeeper_spark.catalog.catalog import CatalogError
from lakekeeper_spark.catalog.commit import (
    CommitValidationError,
    apply_commit,
    new_table_metadata,
)
from lakekeeper_spark.format.icelite import SparkTable, snapshot_entries

SCHEMA = {
    "schema-id": 0,
    "fields": [
        {"id": 1, "name": "id", "type": "long", "required": True},
    ],
}


def _table(spark, catalog, ns, fv=3):
    catalog.create_namespace("wh", [ns])
    catalog.create_table("wh", [ns], "t", SCHEMA, format_version=fv)
    return SparkTable(spark, catalog, "wh", [ns], "t")


def test_commit_engine_rejects_defaults_below_v3():
    meta = new_table_metadata("u", "loc", SCHEMA, format_version=2)
    bad = {
        "schema-id": 1,
        "fields": SCHEMA["fields"]
        + [{"id": 2, "name": "d", "type": "int", "required": False,
            "initial-default": 7}],
    }
    with pytest.raises(CommitValidationError, match="format-version"):
        apply_commit(meta, [], [{"action": "add-schema", "schema": bad}])
    # the same schema is legal on a v3 table
    meta3 = new_table_metadata("u", "loc", SCHEMA, format_version=3)
    out = apply_commit(meta3, [], [{"action": "add-schema", "schema": bad}])
    assert out["schemas"][1]["fields"][1]["initial-default"] == 7


def test_initial_default_fills_pre_existing_rows(spark, catalog):
    t = _table(spark, catalog, "dv1")
    t.append(spark.createDataFrame([(1,), (2,)], "id long"))
    t.add_column("region", "string", initial_default="unknown")
    t.append(
        spark.createDataFrame([(3, "emea")], "id long, region string")
    )
    rows = {r.id: r.region for r in t.scan().collect()}
    # rows written before the column existed read the default, not NULL
    assert rows == {1: "unknown", 2: "unknown", 3: "emea"}


def test_write_default_fills_omitted_column(spark, catalog):
    t = _table(spark, catalog, "dv2")
    t.add_column("status", "string", initial_default="new")
    # writer omits the column entirely -> write-default (= initial here)
    t.append(spark.createDataFrame([(1,)], "id long"))
    # writer supplies it, including an explicit NULL -> stored as given
    t.append(
        spark.createDataFrame([(2, "done"), (3, None)],
                              "id long, status string")
    )
    rows = {r.id: r.status for r in t.scan().collect()}
    assert rows == {1: "new", 2: "done", 3: None}


def test_distinct_initial_and_write_defaults(spark, catalog):
    t = _table(spark, catalog, "dv3")
    t.append(spark.createDataFrame([(1,)], "id long"))
    t.add_column("score", "int", initial_default=0, write_default=100)
    t.append(spark.createDataFrame([(2,)], "id long"))
    rows = {r.id: r.score for r in t.scan().collect()}
    assert rows == {1: 0, 2: 100}


def test_required_column_needs_default_when_data_exists(spark, catalog):
    t = _table(spark, catalog, "dv4")
    t.append(spark.createDataFrame([(1,)], "id long"))
    with pytest.raises(CatalogError, match="initial-default"):
        t.add_column("must", "string", required=True)
    # with a default it works
    t.add_column("must", "string", required=True, initial_default="x")
    assert {r.must for r in t.scan().collect()} == {"x"}


def test_add_column_with_default_on_v2_rejected(spark, catalog):
    t = _table(spark, catalog, "dv5", fv=2)
    t.append(spark.createDataFrame([(1,)], "id long"))
    with pytest.raises(CommitValidationError, match="format-version"):
        t.add_column("d", "int", initial_default=5)


def test_iso_date_default_casts(spark, catalog):
    import datetime

    t = _table(spark, catalog, "dv6")
    t.append(spark.createDataFrame([(1,)], "id long"))
    t.add_column("since", "date", initial_default="2024-01-15")
    rows = {r.id: r.since for r in t.scan().collect()}
    assert rows[1] == datetime.date(2024, 1, 15)


# ---------------------------------------------------------------------------
# v3-only types: variant column end-to-end + the format gate
# ---------------------------------------------------------------------------
V_SCHEMA = {
    "schema-id": 0,
    "fields": [
        {"id": 1, "name": "id", "type": "long", "required": True},
        {"id": 2, "name": "payload", "type": "variant", "required": False},
    ],
}


def test_variant_column_requires_v3():
    with pytest.raises(CommitValidationError, match="format-version >= 3"):
        new_table_metadata("u", "loc", V_SCHEMA, format_version=2)
    meta = new_table_metadata("u", "loc", V_SCHEMA, format_version=3)
    assert meta["schemas"][0]["fields"][1]["type"] == "variant"
    # add-schema path enforces the same gate
    m2 = new_table_metadata(
        "u", "loc",
        {"schema-id": 0,
         "fields": [{"id": 1, "name": "id", "type": "long",
                     "required": True}]},
        format_version=2,
    )
    with pytest.raises(CommitValidationError, match="format-version >= 3"):
        apply_commit(
            m2, [],
            [{"action": "add-schema",
              "schema": {"schema-id": 1, "fields": V_SCHEMA["fields"]}}],
        )


def test_variant_column_roundtrips_through_icelite(spark, catalog):
    """A v3 table with a VARIANT column: write Spark-native variant
    values, scan back, extract typed fields (the v3 variant type the
    spec added; Spark 4's VariantType is the engine-side twin)."""
    from pyspark.sql import functions as F

    catalog.create_namespace("wh", ["vt"])
    catalog.create_table("wh", ["vt"], "t", V_SCHEMA, format_version=3)
    t = SparkTable(spark, catalog, "wh", ["vt"], "t")
    df = spark.range(3).select(
        F.col("id"),
        F.parse_json(
            F.concat(F.lit('{"k": '), F.col("id").cast("string"), F.lit("}"))
        ).alias("payload"),
    )
    t.append(df)
    got = t.scan()
    assert dict(got.dtypes)["payload"] == "variant"
    ks = {
        r.id: r.k
        for r in got.select(
            "id",
            F.try_variant_get("payload", "$.k", "long").alias("k"),
        ).collect()
    }
    assert ks == {0: 0, 1: 1, 2: 2}


def test_commit_engine_rejects_nested_defaults_below_v3():
    """A default hiding on a NESTED struct field is just as v3-only as a
    top-level one."""
    meta = new_table_metadata("u", "loc", SCHEMA, format_version=2)
    bad = {
        "schema-id": 1,
        "fields": SCHEMA["fields"]
        + [
            {
                "id": 2,
                "name": "s",
                "required": False,
                "type": {
                    "type": "struct",
                    "fields": [
                        {
                            "id": 3,
                            "name": "inner",
                            "type": "int",
                            "required": False,
                            "initial-default": 9,
                        }
                    ],
                },
            }
        ],
    }
    with pytest.raises(CommitValidationError, match="nested.*default"):
        apply_commit(meta, [], [{"action": "add-schema", "schema": bad}])
    # legal on v3
    meta3 = new_table_metadata("u", "loc", SCHEMA, format_version=3)
    apply_commit(meta3, [], [{"action": "add-schema", "schema": bad}])


def _variant_fallback_table(spark, catalog, monkeypatch, ns):
    """A v3 table partitioned by ``part`` with a VARIANT column, whose
    appends take the pyarrow-footer fallback even if this pyarrow build
    parses the footer."""
    import pyarrow.parquet as pq

    p_schema = {
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "id", "type": "long", "required": True},
            {"id": 2, "name": "part", "type": "string", "required": False},
            {"id": 3, "name": "payload", "type": "variant",
             "required": False},
        ],
    }
    catalog.create_namespace("wh", [ns])
    catalog.create_table(
        "wh", [ns], "t", p_schema, format_version=3,
        partition_spec={
            "spec-id": 0,
            "fields": [{"source-id": 2, "field-id": 1000,
                        "transform": "identity", "name": "part"}],
        },
    )

    def _boom(*a, **k):
        raise OSError("unsupported logical type")

    monkeypatch.setattr(pq, "ParquetFile", _boom)
    return SparkTable(spark, catalog, "wh", [ns], "t")


def _variant_rows(spark, parts):
    """2 rows in partition parts[0], 5 in parts[1], from ONE upstream
    task -> identical basenames across both partition directories."""
    from pyspark.sql import functions as F

    return (
        spark.createDataFrame(
            [(i, parts[0] if i < 2 else parts[1]) for i in range(7)],
            "id long, part string",
        )
        .withColumn("payload", F.parse_json(F.lit('{"x": 1}')))
        .coalesce(1)
    )


def _data_counts(t):
    return {
        e["partition"]["part"]: e["record-count"]
        for e in snapshot_entries(t.metadata()["snapshots"][-1])
        if e.get("content", "data") == "data"
    }


def test_variant_footer_fallback_counts_by_partition_path(
    spark, catalog, monkeypatch
):
    """The pyarrow-footer fallback (VARIANT logical type) must attribute
    per-file row counts by the full path: with dynamic partitioning one
    task writes the SAME basename into several partition dirs, so a
    basename match could return another partition's count — wrong
    manifest stats and, on v3, overlapping first-row-id ranges."""
    t = _variant_fallback_table(spark, catalog, monkeypatch, "vfb")
    t.append(_variant_rows(spark, ["a", "b"]))
    assert _data_counts(t) == {"a": 2, "b": 5}
    # and the v3 row-id ranges built on those counts stay disjoint
    rows = {r.id: r._row_id for r in t.scan(row_lineage=True).collect()}
    assert sorted(rows.values()) == list(range(7))


def test_variant_footer_fallback_keeps_files_in_escaped_partitions(
    spark, catalog, monkeypatch
):
    """Spark reports file paths percent-encoded: a partition dir 'a b'
    reads back as 'a%20b' and the hive-escaped 'c%3Ad' as 'c%253Ad'. The
    fallback still finds their counts; a file it could not match would
    count as empty and be deleted with its rows. The empty file Spark
    writes for an empty unpartitioned append is known empty: it is
    deleted and gets no entry."""
    from pathlib import Path

    t = _variant_fallback_table(spark, catalog, monkeypatch, "vesc")
    t.append(_variant_rows(spark, ["a b", "c:d"]))
    assert _data_counts(t) == {"a b": 2, "c:d": 5}
    assert sorted(r.id for r in t.scan().collect()) == list(range(7))

    catalog.create_table("wh", ["vesc"], "u", V_SCHEMA, format_version=3)
    u = SparkTable(spark, catalog, "wh", ["vesc"], "u")
    deleted, unlink = [], Path.unlink
    monkeypatch.setattr(
        Path, "unlink", lambda p: (deleted.append(p.suffix), unlink(p))
    )
    u.append(_variant_rows(spark, ["a", "b"]).select("id", "payload").limit(0))
    assert deleted == [".parquet"]
    assert u.metadata()["snapshots"][-1]["summary"].get("added-data-files", 0) == 0
    assert list((Path(u.metadata()["location"]) / "data").rglob("*.parquet")) == []
