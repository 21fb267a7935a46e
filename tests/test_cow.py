"""Copy-on-write MERGE across Delta, Iceberg and Hudi: every
``(when_matched, when_not_matched)`` mode against a pure-Python model
of MERGE, untouched files keeping their paths, and an empty source
committing nothing."""
import os
from urllib.parse import unquote

import pyarrow.parquet as pq
import pytest

from vtk_reserves_spark.sources import delta, hudi, iceberg

SCHEMA = "id long, v string"
# three appends -> three data files: {1, 2}, {3, 4}, {5, 6}
TARGET = [[(1, "a1"), (2, "a2")], [(3, "b3"), (4, "b4")],
          [(5, "c5"), (6, "c6")]]
# id 1 matches a row of the first file only; id 9 matches nothing
SOURCE = [(1, "s1"), (9, "s9")]

MODES = [("update", "insert"), ("update", "ignore"),
         ("delete", "insert"), ("delete", "ignore")]


def _delta_head(t):
    snap = delta.delta_snapshot(t)
    return snap["version"], {p for p, _, _, _ in snap["files"]}


def _iceberg_head(t):
    snap = iceberg.iceberg_snapshot(t)
    return snap["snapshot_id"], set(snap["files"])


def _hudi_head(t):
    snap = hudi.hudi_snapshot(t)
    return snap["instant"], set(snap["files"])


FORMATS = {
    "delta": (delta.write_delta, delta.merge_delta, delta.read_delta,
              _delta_head),
    "iceberg": (iceberg.write_iceberg, iceberg.merge_iceberg,
                iceberg.read_iceberg, _iceberg_head),
    "hudi": (hudi.write_hudi, hudi.merge_hudi, hudi.read_hudi,
             _hudi_head),
}


def model_merge(target, source, when_matched, when_not_matched):
    """MERGE INTO semantics on lists of ``(key, value)`` rows."""
    tkeys = {k for k, _ in target}
    skeys = {k for k, _ in source}
    out = [r for r in target if r[0] not in skeys]
    for k, v in source:
        if k in tkeys:
            if when_matched == "update":
                out.append((k, v))
        elif when_not_matched == "insert":
            out.append((k, v))
    return sorted(out)


def _table(spark, fmt, tmp_path):
    write = FORMATS[fmt][0]
    t = str(tmp_path / fmt)
    for rows in TARGET:
        write(spark.createDataFrame(rows, SCHEMA).coalesce(1), t)
    return t


def _rows(spark, fmt, t):
    read = FORMATS[fmt][2]
    return sorted(
        (r["id"], r["v"]) for r in read(spark, t).select("id", "v")
        .collect()
    )


def _tree(t):
    return sorted(
        os.path.relpath(os.path.join(root, n), t)
        for root, _dirs, names in os.walk(t) for n in names
    )


@pytest.mark.parametrize("fmt", sorted(FORMATS))
@pytest.mark.parametrize("when_matched,when_not_matched", MODES)
def test_merge_mode_matrix(spark, tmp_path, fmt, when_matched,
                           when_not_matched):
    _write, merge, _read, head = FORMATS[fmt]
    t = _table(spark, fmt, tmp_path)
    target = _rows(spark, fmt, t)
    before, files_before = head(t)
    src = spark.createDataFrame(SOURCE, SCHEMA)
    if when_not_matched == "ignore" and when_matched == "delete":
        src = src.select("id")  # key-only source is enough to delete
    got = merge(spark, src, t, on=["id"], when_matched=when_matched,
                when_not_matched=when_not_matched)
    after, files_after = head(t)
    assert got == after and after != before
    assert _rows(spark, fmt, t) == model_merge(
        target, SOURCE, when_matched, when_not_matched
    )
    # only the file holding id 1 rewrites: the other two keep their
    # paths in the new snapshot
    assert len(files_before & files_after) == 2


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_merge_empty_source_commits_nothing(spark, tmp_path, fmt):
    _write, merge, _read, head = FORMATS[fmt]
    t = _table(spark, fmt, tmp_path)
    rows = _rows(spark, fmt, t)
    before, files_before = head(t)
    tree = _tree(t)
    empty = spark.createDataFrame([], SCHEMA)
    assert merge(spark, empty, t, on=["id"], txn=("app", 1)) == before
    assert head(t) == (before, files_before)
    assert _tree(t) == tree  # no commit, no data file, no stage dir
    assert _rows(spark, fmt, t) == rows
    # the no-op did not advance the txn ledger: batch 1 still applies
    merge(spark, spark.createDataFrame(SOURCE, SCHEMA), t, on=["id"],
          txn=("app", 1))
    assert _rows(spark, fmt, t) == model_merge(
        rows, SOURCE, "update", "insert"
    )


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_delete_merge_emptying_a_file_drops_it(spark, tmp_path, fmt):
    """A delete-merge that removes every row of a touched file leaves
    no zero-row file in the new snapshot."""
    _write, merge, _read, head = FORMATS[fmt]
    t = _table(spark, fmt, tmp_path)
    rows = _rows(spark, fmt, t)
    keys = [(1,), (2,)]  # every row of the first file
    merge(spark, spark.createDataFrame(keys, "id long"), t, on=["id"],
          when_matched="delete", when_not_matched="ignore")
    _after, files = head(t)
    counts = sorted(
        pq.read_metadata(os.path.join(t, unquote(p))).num_rows
        for p in files
    )
    assert counts == [2, 2]
    assert _rows(spark, fmt, t) == model_merge(
        rows, [(1, None), (2, None)], "delete", "ignore"
    )
