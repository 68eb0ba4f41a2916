"""Record-field storage: blob files + ``{_FILE,_ROW_ID}`` address columns.

The reference stores bulky "record" fields row-oriented (ArrayRecord files)
and keeps only an address struct in the columnar index files
(docs/design.md:3-14; address struct core/schema/arrow.py:212-215; writer
core/ops/append.py:246-298; reader core/ops/read.py:137-205). We keep the
exact observable semantics — address indirection, lazy resolution,
``reference_read``, deletes never rewrite record files — but store blobs in
single-column Parquet files (``value: binary``), which Spark/Arrow read
natively, instead of ArrayRecord (not available here and an encoding
detail, not a capability).

Both the write and resolve paths run inside ``mapInArrow`` — per-partition,
Arrow-batched, shared-nothing — so they scale with executors: each task
writes its own blob files (addresses are file-local, no coordination).
Point reads, there and in ``RandomAccessDataSource``, go through
``BlobUnits.take``: addresses are grouped by (file, row group) — footer row
counts map row ids to row groups; read.py:181-189 groups by file — and
only row groups holding requested rows (one per write batch or compacted
input file) are decoded.
"""

from __future__ import annotations

import os
import uuid
from collections import OrderedDict
from typing import Iterator, List, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from space_spark.core.schema import FILE_COL, ROW_ID_COL, physical_schema

RECORDS_DIR = "records"
VALUE_COL = "value"

# Roll blob files at this many uncompressed bytes (reference default 100MB,
# core/options.py:74-75).
MAX_RECORD_FILE_BYTES = 100 * 1024 * 1024


class _BlobWriter:
    """Per-task, per-field rolling blob writer; addresses are file-local."""

    def __init__(self, location: str, field: str):
        self.location = location
        self.field = field
        self.writer = None
        self.rel_path = None
        self.next_row_id = 0
        self.bytes_written = 0

    def _open(self) -> None:
        name = f"{self.field}_{uuid.uuid4().hex[:20]}.parquet"
        self.rel_path = os.path.join(RECORDS_DIR, name)
        abs_path = os.path.join(self.location, self.rel_path)
        os.makedirs(os.path.dirname(abs_path), exist_ok=True)
        self.writer = pq.ParquetWriter(
            abs_path, pa.schema([pa.field(VALUE_COL, pa.binary())])
        )
        self.next_row_id = 0
        self.bytes_written = 0

    def write(self, values: pa.Array) -> pa.StructArray:
        if self.writer is None:
            self._open()
        n = len(values)
        start = self.next_row_id
        self.writer.write_table(
            pa.table({VALUE_COL: pc.cast(values, pa.binary())})
        )
        self.next_row_id += n
        self.bytes_written += values.nbytes
        addresses = pa.StructArray.from_arrays(
            [
                pa.array([self.rel_path] * n, pa.string()),
                pa.array(range(start, start + n), pa.int32()),
            ],
            names=[FILE_COL, ROW_ID_COL],
        )
        if self.bytes_written >= MAX_RECORD_FILE_BYTES:
            self.close()
        return addresses

    def close(self) -> None:
        if self.writer is not None:
            self.writer.close()
            self.writer = None


def resolve_blob_path(location: str, rel_path: str,
                      bases: Sequence[str] = ()) -> str:
    """Absolute path of a blob file, searching the table location first
    and then each record base (shallow-clone indirection,
    core/metadata.py StorageMetadata.record_bases): a clone's data
    files carry source-written addresses like ``records/<uuid>`` that
    exist only under the SOURCE root, while post-clone appends write
    blobs under the clone's own root with the same address shape. Blob
    filenames are uuids, so at most one root has the file. Falls back
    to the primary join when nothing exists — the caller's open then
    raises the natural FileNotFoundError."""
    primary = os.path.join(location, rel_path)
    if not bases or os.path.exists(primary):
        return primary
    for base in bases:
        cand = os.path.join(base, rel_path)
        if os.path.exists(cand):
            return cand
    return primary


def read_blob_column(location: str, rel_path: str, bases: Sequence[str],
                     row_groups: Sequence[int]) -> List[pa.Array]:
    """Record values of some row groups of one blob file, one array per
    group. Our record files are single-column Parquet; zero-copy external
    files (sources/loaders.py append_binary_files) are raw bytes — the
    whole file is the one record at row id 0, in row group 0."""
    abs_path = resolve_blob_path(location, rel_path, bases)
    if not rel_path.endswith(".parquet"):
        with open(abs_path, "rb") as f:
            return [pa.array([f.read()], pa.binary())]
    pf = pq.ParquetFile(abs_path)
    return [pf.read_row_group(g, columns=[VALUE_COL], use_threads=False)
            .column(0).combine_chunks() for g in row_groups]


class BlobUnits:
    """Decoded (blob file, row group) units of one table: an LRU of
    ``cache_size`` units, and ``starts`` — the first row id of each row
    group, then the row count — of every file seen, from its footer."""

    def __init__(self, location: str, bases: Sequence[str] = (),
                 cache_size: int = 2):
        self.location, self.bases = location, tuple(bases)
        self.cache_size = cache_size
        self._starts: dict = {}
        self._cache: OrderedDict = OrderedDict()

    def starts(self, rel_path: str) -> np.ndarray:
        if rel_path not in self._starts:
            counts = [1]
            if rel_path.endswith(".parquet"):
                meta = pq.read_metadata(
                    resolve_blob_path(self.location, rel_path, self.bases))
                counts = [meta.row_group(i).num_rows
                          for i in range(meta.num_row_groups)]
            self._starts[rel_path] = np.cumsum([0] + counts)
        return self._starts[rel_path]

    def get(self, rel_path: str, groups: List[int]) -> List[pa.Array]:
        """Units of one file; the missing ones are decoded in one read."""
        keys = [(rel_path, g) for g in groups]
        missing = [k for k in keys if k not in self._cache]
        if missing:
            self._cache.update(zip(missing, read_blob_column(
                self.location, rel_path, self.bases,
                [g for _f, g in missing])))
        for k in keys:
            self._cache.move_to_end(k)
        out = [self._cache[k] for k in keys]
        while len(self._cache) > self.cache_size:
            self._cache.popitem(last=False)
        return out

    def take(self, addresses: pa.StructArray, get) -> pa.Array:
        """Blob values at ``{_FILE,_ROW_ID}`` addresses, in order (null for
        a null address): one ``take`` per (file, row group), each file's
        units fetched with ``get`` (``self.get`` or a wrapper of it)."""
        files, row_ids = addresses.flatten()
        codes = pc.dictionary_encode(files)
        file_ix = pc.fill_null(codes.indices, -1).to_numpy()
        rows = pc.fill_null(row_ids, 0).to_numpy().astype(np.int64)
        order = [np.flatnonzero(file_ix < 0)]
        pieces = [pa.nulls(len(order[0]), pa.binary())]
        for k, rel_path in enumerate(codes.dictionary.to_pylist()):
            pos = np.flatnonzero(file_ix == k)
            starts = self.starts(rel_path)
            group = np.searchsorted(starts, rows[pos], side="right") - 1
            needed = np.unique(group)
            for g, unit in zip(needed, get(rel_path, needed.tolist())):
                sel = pos[group == g]
                pieces.append(unit.take(rows[sel] - starts[g]))
                order.append(sel)
        return pa.concat_arrays(pieces).take(
            np.argsort(np.concatenate(order)))


def write_record_fields(
    df: DataFrame, location: str, record_fields: Sequence[str]
) -> DataFrame:
    """Logical DataFrame -> physical: blob values written to record files,
    value columns replaced by address structs (append.py:246-298)."""
    logical = df.schema
    phys = physical_schema(logical, record_fields)
    fields = list(record_fields)
    loc = location

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        writers = {f: _BlobWriter(loc, f) for f in fields}
        try:
            for batch in batches:
                arrays, names = [], []
                for i, name in enumerate(batch.schema.names):
                    col = batch.column(i)
                    if name in writers:
                        arrays.append(writers[name].write(col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col))
                    else:
                        arrays.append(col)
                    names.append(name)
                yield pa.RecordBatch.from_arrays(arrays, names=names)
        finally:
            for w in writers.values():
                w.close()

    return df.mapInArrow(task, phys)


def resolve_record_fields(
    df: DataFrame,
    location: str,
    record_fields: Sequence[str],
    logical_schema: T.StructType,
    bases: Sequence[str] = (),
) -> DataFrame:
    """Physical DataFrame -> logical: fetch blob bytes for address columns.

    A batch's addresses resolve through ``BlobUnits.take``
    (read.py:155-205); its tiny per-task cache handles consecutive
    batches sharing a row group.
    """
    selected = [f.name for f in df.schema.fields]
    out_schema = T.StructType([
        T.StructField(f, T.BinaryType() if f in record_fields
                      else logical_schema[f].dataType, True)
        for f in selected
    ])
    fields = [f for f in record_fields if f in selected]
    loc = location
    base_list = tuple(bases)

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        units = BlobUnits(loc, base_list)
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [units.take(col, units.get) if name in fields else col
                 for name, col in zip(batch.schema.names, batch.columns)],
                names=batch.schema.names,
            )

    return df.mapInArrow(task, out_schema)

