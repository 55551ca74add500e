"""Property tests for plan_table_scan (the PlanTableScan planner).

The reference model below is an INDEPENDENT restatement of the spec
rules (positional tombstones address files by name; equality deletes
apply to strictly-older sequence numbers; pruning only ever REMOVES
data files and never changes any surviving task's artifact list), so
planner and model can't share a bug through common code.
"""

from __future__ import annotations

import tempfile

from hypothesis import given, settings
from hypothesis import strategies as st

from lakekeeper_spark.format.iceberg_manifests import write_manifest_file
from lakekeeper_spark.format.icelite import plan_table_scan

_SCHEMA = {
    "schema-id": 0,
    "fields": [
        {"id": 1, "name": "k", "type": "int", "required": False},
        {"id": 2, "name": "p", "type": "string", "required": False},
    ],
}


def _table_meta(snapshot_id, seq, kinds, out_dir):
    """Table metadata whose one snapshot lists ``kinds`` (entry lists of
    one content kind each) through manifests written as a commit does."""
    meta = {
        "schemas": [_SCHEMA],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "refs": {"main": {"snapshot-id": snapshot_id}},
    }
    manifests = [
        write_manifest_file(meta, entries, snapshot_id, seq, str(out_dir))
        for entries in kinds
        if entries
    ]
    meta["snapshots"] = [
        {"snapshot-id": snapshot_id, "sequence-number": seq, "manifests": manifests}
    ]
    return meta


def _data_file(i, seq, part, lo, hi):
    return {
        "path": f"data/f{i}.parquet",
        "record-count": 10,
        "file-size-in-bytes": 100,
        "sequence-number": seq,
        "partition": {"p": str(part)},
        "bounds": {"k": [lo, hi]},
    }


manifests = st.builds(
    lambda datas, dels: (datas, dels),
    st.lists(
        st.tuples(
            st.integers(1, 9),  # seq
            st.integers(0, 2),  # partition value
            st.integers(0, 50),  # lower bound
            st.integers(0, 50),  # width
        ),
        min_size=0,
        max_size=8,
    ),
    st.lists(
        st.tuples(
            st.sampled_from(["position-deletes", "deletion-vectors", "equality-deletes"]),
            st.integers(1, 10),  # seq
            st.one_of(st.none(), st.sets(st.integers(0, 7), max_size=4)),  # refs
        ),
        min_size=0,
        max_size=6,
    ),
)


@settings(max_examples=200, deadline=None)
@given(manifests, st.one_of(st.none(), st.integers(0, 2)), st.booleans())
def test_plan_matches_independent_model(spec, pfilter_val, use_stats):
    datas_raw, dels_raw = spec
    datas = [
        _data_file(i, seq, part, lo, lo + width)
        for i, (seq, part, lo, width) in enumerate(datas_raw)
    ]
    dels = []
    for j, (content, seq, refs) in enumerate(dels_raw):
        d = {
            "path": f"data/deletes/d{j}.parquet",
            "record-count": 1,
            "file-size-in-bytes": 10,
            "sequence-number": seq,
            "partition": {},
            "content": content,
        }
        if content != "equality-deletes" and refs is not None:
            d["referenced-files"] = sorted(f"data/f{i}.parquet" for i in refs)
        if content == "equality-deletes":
            d["equality-ids"] = [1]
        dels.append(d)
    with tempfile.TemporaryDirectory() as out_dir:
        _check_plan(_table_meta(7, 9, [datas, dels], out_dir), datas, dels, pfilter_val, use_stats)


def _check_plan(meta, datas, dels, pfilter_val, use_stats):
    pfilter = {"p": str(pfilter_val)} if pfilter_val is not None else None
    sfilter = {"k": (10, 30)} if use_stats else None
    plan = plan_table_scan(meta, partition_filter=pfilter, stats_filter=sfilter)

    # ---- independent model --------------------------------------------
    expected = {}
    for e in datas:
        if pfilter is not None and e["partition"]["p"] != pfilter["p"]:
            continue
        if sfilter is not None:
            lo, hi = e["bounds"]["k"]
            if lo > 30 or hi < 10:
                continue
        pos = sorted(
            d["path"]
            for d in dels
            if d["content"] in ("position-deletes", "deletion-vectors")
            and ("referenced-files" not in d or e["path"] in d["referenced-files"])
        )
        eq = sorted(
            d["path"]
            for d in dels
            if d["content"] == "equality-deletes"
            and e["sequence-number"] < d["sequence-number"]
        )
        expected[e["path"]] = (pos, eq)

    got = {
        t["data-file"]["path"]: (
            sorted(f["path"] for f in t["position-delete-files"]),
            sorted(f["path"] for f in t["equality-delete-files"]),
        )
        for t in plan["plan-tasks"]
    }
    assert got == expected
    assert plan["total-data-files"] == len(datas)
    assert plan["pruned-data-files"] == len(datas) - len(got)
    # pruning never alters a surviving task's artifacts
    if pfilter is not None or sfilter is not None:
        full = {
            t["data-file"]["path"]: (
                sorted(f["path"] for f in t["position-delete-files"]),
                sorted(f["path"] for f in t["equality-delete-files"]),
            )
            for t in plan_table_scan(meta)["plan-tasks"]
        }
        for path, arts in got.items():
            assert full[path] == arts
