"""Random-access point reads of record fields for training loops.

Parity: reference RandomAccessDataSource (core/random_access.py:144-241):
``__len__`` / ``__getitem__`` / ``__getitems__`` over record-field blobs,
with file-instruction coalescing (:244-287) — a batch's reads are grouped
per (blob file, row group) by ``records.BlobUnits.take``, as Spark reads are.

This is deliberately NOT a Spark job: a training loop issues point reads
from one process; the address table (small: pk + {file,row_id} per row) is
fetched once via a reference read into Arrow, then lookups decode single
row groups locally through an LRU of ``file_cache_size`` units.
At cluster scale each trainer worker holds only its shard of addresses
(pass a filter to restrict the address fetch).
"""

from __future__ import annotations

from typing import Any, Callable, List, Optional, Sequence

import pyarrow as pa

from space_spark.core import records as rec
from space_spark.errors import UserInputError


class RandomAccessDataSource:
    """Index-style access to record-field bytes of a space table.

    ``feature_fields``: record fields to fetch; single field -> bare bytes
    per item, multiple -> dict per item (reference semantics).
    ``deserialize``: optional per-field callable applied to the raw bytes.
    """

    def __init__(
        self,
        dataset,
        feature_fields: Optional[Sequence[str]] = None,
        version=None,
        filter_=None,
        deserialize: Optional[Callable[[bytes], Any]] = None,
        file_cache_size: int = 4,
    ):
        self.location = dataset.location
        self.record_bases = tuple(dataset.record_search_bases)
        self.feature_fields = list(feature_fields or dataset.record_fields)
        unknown = set(self.feature_fields) - set(dataset.record_fields)
        if unknown:
            raise UserInputError(
                f"Not record fields: {sorted(unknown)}"
            )
        if not self.feature_fields:
            raise UserInputError("Dataset has no record fields")
        # deserialize: a callable applied to every field's bytes, or True
        # to use the table's persisted per-field serializers
        # (TfFeatures-analog; reference random_access.py deserialize flag).
        if deserialize is True:
            self._deserializers = {
                f: (dataset.serializer(f).deserialize
                    if dataset.serializer(f) else None)
                for f in self.feature_fields
            }
        elif callable(deserialize):
            self._deserializers = {
                f: deserialize for f in self.feature_fields
            }
        else:
            self._deserializers = {f: None for f in self.feature_fields}
        self._units = rec.BlobUnits(self.location, self.record_bases,
                                    file_cache_size)
        # One reference read fetches all addresses (index data only — no
        # blobs move). Ordered by primary key for a stable item order.
        pks = dataset.primary_keys
        addr = (
            dataset.read(
                filter_=filter_,
                fields=list(pks) + self.feature_fields,
                version=version,
                reference_read=True,
            )
            .orderBy(*pks)
            .toArrow()
        )
        self._addresses = {
            f: addr.column(f).combine_chunks() for f in self.feature_fields
        }
        self._length = addr.num_rows

    def __len__(self) -> int:
        return self._length

    def _file_column(self, rel_path: str, row_group: int) -> pa.Array:
        return self._units.get(rel_path, [row_group])[0]

    def _fetch(self, field: str, indices: Sequence[int]) -> List[Any]:
        values = self._units.take(
            self._addresses[field].take(pa.array(indices, pa.int64())),
            lambda f, groups: [self._file_column(f, g) for g in groups],
        ).to_pylist()
        deser = self._deserializers.get(field)
        return [deser(v) if deser and v is not None else v for v in values]

    def __getitems__(self, indices: Sequence[int]) -> List[Any]:
        for i in indices:
            if not 0 <= i < self._length:
                raise IndexError(i)
        per_field = {f: self._fetch(f, indices) for f in self.feature_fields}
        if len(self.feature_fields) == 1:
            return per_field[self.feature_fields[0]]
        return [
            {f: per_field[f][i] for f in self.feature_fields}
            for i in range(len(indices))
        ]

    def __getitem__(self, index: int) -> Any:
        return self.__getitems__([index])[0]
