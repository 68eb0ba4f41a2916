"""Random-access point reads (mirrors reference
tests/core/test_random_access.py:40-273)."""

import os

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from space_spark import Dataset, field
from space_spark.core import records as rec
from space_spark.core.random_access import RandomAccessDataSource
from space_spark.errors import UserInputError

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("feat1", T.BinaryType()),
        T.StructField("feat2", T.BinaryType()),
    ]
)


@pytest.fixture()
def ds(spark, tmp_location):
    d = Dataset.create(
        spark, tmp_location, SCHEMA, ["id"], record_fields=["feat1", "feat2"]
    )
    d.append(
        spark.createDataFrame(
            [Row(id=i, feat1=f"a{i}".encode(), feat2=f"b{i}".encode())
             for i in range(30)],
            SCHEMA,
        )
    )
    return d


def test_single_field(spark, ds):
    src = RandomAccessDataSource(ds, ["feat1"])
    assert len(src) == 30
    assert src[7] == b"a7"
    assert src.__getitems__([3, 1, 28]) == [b"a3", b"a1", b"a28"]


def test_multi_field_and_deserialize(spark, ds):
    src = RandomAccessDataSource(
        ds, ["feat1", "feat2"], deserialize=lambda b: b.decode()
    )
    assert src[5] == {"feat1": "a5", "feat2": "b5"}
    batch = src.__getitems__([10, 2])
    assert batch == [
        {"feat1": "a10", "feat2": "b10"},
        {"feat1": "a2", "feat2": "b2"},
    ]


def test_filtered_and_versioned(spark, ds):
    src = RandomAccessDataSource(ds, ["feat1"], filter_=field("id") >= 25)
    assert len(src) == 5
    assert src[0] == b"a25"  # ordered by pk

    ds.append(
        spark.createDataFrame([Row(id=99, feat1=b"x", feat2=b"y")], SCHEMA)
    )
    old = RandomAccessDataSource(ds, ["feat1"], version=1)
    assert len(old) == 30


def test_errors(spark, ds):
    src = RandomAccessDataSource(ds, ["feat1"])
    with pytest.raises(IndexError):
        src[30]
    with pytest.raises(UserInputError):
        RandomAccessDataSource(ds, ["id"])  # not a record field


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        [Row(id=i, feat1=f"a{i}".encode(), feat2=f"b{i}".encode())
         for i in range(lo, hi)],
        SCHEMA,
    ).coalesce(1)


@pytest.fixture()
def compacted(spark, tmp_location):
    """Six one-file appends folded by ``compact_records`` into one blob
    file per field with one row group per append."""
    d = Dataset.create(
        spark, tmp_location, SCHEMA, ["id"], record_fields=["feat1", "feat2"]
    )
    for a in range(6):
        d.append(_rows(spark, 5 * a, 5 * a + 5))
    d.compact_records()
    return d


def test_compacted_point_reads_decode_only_needed_row_groups(
    spark, compacted, monkeypatch
):
    ds = compacted
    refs = {r["id"]: r for r in ds.read(reference_read=True).collect()}
    addr = {(f, i): (r[f]["_FILE"], r[f]["_ROW_ID"])
            for i, r in refs.items() for f in ("feat1", "feat2")}
    units = rec.BlobUnits(ds.location)
    starts = {p: units.starts(p) for p, _row in addr.values()}
    assert len(starts) == 2
    assert all(len(s) - 1 == 6 for s in starts.values())

    want = {i: {"feat1": f"a{i}".encode(), "feat2": f"b{i}".encode()}
            for i in range(30)}
    assert {r["id"]: {"feat1": r["feat1"], "feat2": r["feat2"]}
            for r in ds.read().collect()} == want

    decoded = []
    read = rec.read_blob_column

    def spy(location, rel_path, bases, row_groups):
        decoded.extend((rel_path, g) for g in row_groups)
        return read(location, rel_path, bases, row_groups)

    monkeypatch.setattr(rec, "read_blob_column", spy)
    src = RandomAccessDataSource(ds, ["feat1", "feat2"], file_cache_size=1)
    order = [17, 3, 29, 4, 0, 12]
    assert src.__getitems__(order) == [want[i] for i in order]
    # Each (file, row group) holding a requested row is decoded once;
    # no other row group is.
    needed = set()
    for f in ("feat1", "feat2"):
        for i in order:
            path, row = addr[(f, i)]
            g = int(np.searchsorted(starts[path], row, side="right")) - 1
            needed.add((path, g))
    assert sorted(decoded) == sorted(needed)
    decoded.clear()
    assert src[22] == want[22]
    assert len(decoded) == 2  # one row group per field


def test_shallow_clone_resolves_source_blobs(spark, compacted,
                                             tmp_location):
    clone = compacted.clone(os.path.join(os.path.dirname(tmp_location),
                                         "clone"))
    clone.append(_rows(spark, 30, 33))
    src = RandomAccessDataSource(clone, ["feat1"])
    assert len(src) == 33
    order = [31, 2, 17, 30, 29]
    assert src.__getitems__(order) == [f"a{i}".encode() for i in order]
    # The compacted blobs live only under the source root.
    assert not any("_compact_" in n for n in
                   os.listdir(os.path.join(clone.location, "records")))
