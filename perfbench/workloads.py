"""The benchmark's workloads: seeded inputs, the engine calls a user makes,
and the output checks.

Every input row is a pure function of (seed, id), so checks recompute the
expected values without keeping the inputs:

- ``k``    = (id * 2654435761 + seed) mod 1000, an index column;
- ``blob`` = sha256("seed:id:0") || ... || sha256("seed:id:7"), a 256-byte
  record field.

Spark builds the rows from ``spark.range`` with the same two expressions, so
no input is shipped from Python and each partition holds a contiguous id
range (one data file and one record file per partition).
"""

from __future__ import annotations

import hashlib
import math
import os
from typing import Callable, Dict, List, NamedTuple, Optional

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

K_MULT = 2654435761
BLOB_PARTS = 8  # x 32 bytes of sha256 = 256-byte record values
# Arrow bytes of one input row: two int64 columns, 256 value bytes and a
# 4-byte offset of the binary column.
ROW_ARROW_BYTES = 8 + 8 + 32 * BLOB_PARTS + 4

SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("k", T.LongType()),
    T.StructField("blob", T.BinaryType()),
])


def k_of(ids: np.ndarray, seed: int) -> np.ndarray:
    return (ids.astype(np.int64) * K_MULT + seed) % 1000


def blob_of(row_id: int, seed: int) -> bytes:
    return b"".join(hashlib.sha256(f"{seed}:{row_id}:{i}".encode()).digest()
                    for i in range(BLOB_PARTS))


def rows_df(spark, seed: int, lo: int, hi: int, partitions: int):
    """Rows with ids [lo, hi) in ``partitions`` contiguous slices."""
    blob = "unhex(concat(" + ", ".join(
        f"sha2(concat('{seed}:', id, ':{i}'), 256)" for i in range(BLOB_PARTS)
    ) + "))"
    return spark.range(lo, hi, 1, partitions).selectExpr(
        "id", f"pmod(id * {K_MULT} + {seed}, 1000) AS k", f"{blob} AS blob")


def arrow_bytes(rows: int) -> int:
    return ROW_ARROW_BYTES * rows + 4


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(root) for f in files)


class Op(NamedTuple):
    """One engine call: ``call()`` is timed, ``check(result)`` is not."""
    kind: str
    call: Callable[[], object]
    check: Callable[[object], bool]
    tag: Optional[int] = None


def _count_sum_ok(rows, count: int, k_sum: int) -> bool:
    return rows[0][0] == count and (rows[0][1] or 0) == k_sum


def _count_sum(df):
    return df.agg(F.count(F.lit(1)), F.sum("k")).collect()


class TrickleIngest:
    """Sequential small appends (100 rows, one data file and one record
    file each) to a new table. No reads: the commit path does the
    work and history grows during the run. Set-up creates the table and
    makes its first append."""

    name = "trickle_ingest"
    writer_ops = frozenset({"append"})
    request_ops = ("append",)
    request_is_round = False
    setup_reps = 3
    # Storage is measured once the table holds this many appends, so that it
    # does not depend on how many appends a run manages.
    storage_at = 12
    min_rounds = storage_at - 1
    warm_rounds = 0  # warm-up appends go to a throwaway table instead
    warm_appends = 6
    rows_per_append = 100

    def __init__(self, spark, work_dir: str, seed: int):
        from space_spark.core.dataset import Dataset

        self._Dataset = Dataset
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.sample_ids: Dict[int, int] = {}  # append -> one of its ids
        self.ds = None
        self.table_dir = None
        self.appended = 0  # appends made to the measured table
        self.storage_ratio: Optional[float] = None
        self.sizes = {"rows_per_append": self.rows_per_append,
                      "files_per_append": 1,
                      "record_bytes": 32 * BLOB_PARTS}

    def _create(self, loc: str):
        return self._Dataset.create(self.spark, loc, SCHEMA, ["id"],
                                    record_fields=["blob"])

    def warm_up(self) -> None:
        ds = self._create(os.path.join(self.work_dir, "warm"))
        size = self.rows_per_append
        for j in range(self.warm_appends):
            ds.append(rows_df(self.spark, self.seed, j * size, (j + 1) * size,
                              1))

    def setup(self, rep: int) -> None:
        self.table_dir = os.path.join(self.work_dir, f"trickle_{rep}")
        self.ds = self._create(self.table_dir)
        self.ds.append(self._batch(0))
        self.appended = 1

    def _batch(self, j: int):
        lo = j * self.rows_per_append
        hi = lo + self.rows_per_append
        self.sample_ids[j] = int(self.rng.integers(lo, hi))
        return rows_df(self.spark, self.seed, lo, hi, 1)

    def prologue(self) -> List[Op]:
        return []

    def round(self, i: int) -> List[Op]:
        j = self.appended
        self.appended += 1
        df = self._batch(j)
        return [Op("append", lambda: self.ds.append(df),
                   lambda _r: self._after_append(j), tag=j)]

    def _after_append(self, j: int) -> bool:
        if j + 1 == self.storage_at:
            self.storage_ratio = dir_bytes(self.table_dir) / arrow_bytes(
                (j + 1) * self.rows_per_append)
        return True

    def final_check(self) -> List[int]:
        """Tags of appends whose rows are missing, extra or wrong: the final
        row count and key set, ``k`` of every row, and one sampled record
        value per append."""
        n, size = self.appended, self.rows_per_append
        rows = self.ds.read(fields=["id", "k"]).collect()
        got = {}
        for r in rows:
            got.setdefault(r["id"], []).append(r["k"])
        sample = [self.sample_ids[j] for j in range(n)]
        blobs = {r["id"]: r["blob"] for r in self.ds.read_by_keys(
            sample, fields=["id", "blob"]).collect()}
        failed = []
        total = n * size
        extra = {i for i in got if not 0 <= i < total}
        for j in range(n):
            ids = np.arange(j * size, (j + 1) * size)
            ok = all(got.get(int(i)) == [int(k)]
                     for i, k in zip(ids, k_of(ids, self.seed)))
            sid = sample[j]
            ok = ok and blobs.get(sid) == blob_of(sid, self.seed)
            if not ok:
                failed.append(j)
        if extra or len(rows) != total:
            failed = failed or list(range(n))
        return failed


class ReadMix:
    """Reads of a prebuilt many-file table with Bloom filters on the PK and
    one record field: full projection scans, stats-pruned filter scans, time
    travel to an early snapshot, 10-key lookups, and RandomAccessDataSource
    batches of 32 (sequential ones served by its 4-file cache, shuffled ones
    missing it). No commits in the timed loop."""

    name = "read_mix"
    writer_ops = frozenset()
    # Latency-critical request: a training step's cache-missing batch.
    request_ops = ("ra_batch_shuffled",)
    request_is_round = False
    setup_reps = 1
    min_rounds = 2
    warm_rounds = 1  # an untimed round on the built table before the loop
    # Build: two wide appends then trickle appends, so the table passes
    # Spark's 32-path parallel-listing threshold and has a history.
    build = [(18, 1800)] * 2 + [(1, 200)] * 3  # (files, rows) per append
    travel_to = 2  # time travel reads the snapshot after this many appends
    filter_rows = 150
    lookup_keys = 10
    batch = 32
    batches_per_kind = 12

    def __init__(self, spark, work_dir: str, seed: int):
        from space_spark.core.dataset import Dataset
        from space_spark.core.random_access import RandomAccessDataSource

        self._Dataset = Dataset
        self._RA = RandomAccessDataSource
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.total = sum(rows for _files, rows in self.build)
        self.ks = k_of(np.arange(self.total), seed)
        self.travel_rows = sum(rows for _f, rows in self.build[:self.travel_to])
        self.ds = None
        self.ra = None
        self.table_dir = None
        self.storage_ratio: Optional[float] = None
        self.travel_version = None
        self.seq_cursor = int(self.rng.integers(0, self.total))
        self.sizes = {"rows": self.total,
                      "data_files": sum(f for f, _r in self.build),
                      "snapshots": len(self.build),
                      "record_bytes": 32 * BLOB_PARTS}

    def _create(self, loc: str):
        return self._Dataset.create(self.spark, loc, SCHEMA, ["id"],
                                    record_fields=["blob"], bloom_filters=True)

    def warm_up(self) -> None:
        # The write path, for the build; the reads warm up on the built
        # table (``warm_rounds``).
        ds = self._create(os.path.join(self.work_dir, "warm"))
        for j in range(2):
            ds.append(rows_df(self.spark, self.seed, j * 40, j * 40 + 40, 2))

    def setup(self, rep: int) -> None:
        self.table_dir = os.path.join(self.work_dir, f"read_mix_{rep}")
        self.ds = self._create(self.table_dir)
        lo = 0
        for i, (files, rows) in enumerate(self.build):
            self.ds.append(rows_df(self.spark, self.seed, lo, lo + rows, files))
            lo += rows
            if i + 1 == self.travel_to:
                self.travel_version = self.ds.current_snapshot_id
        self.storage_ratio = dir_bytes(self.table_dir) / arrow_bytes(self.total)

    def prologue(self) -> List[Op]:
        def open_ra():
            self.ra = self._RA(self.ds, ["blob"])
            return len(self.ra)

        return [Op("ra_open", open_ra, lambda n: n == self.total)]

    # -- ops ---------------------------------------------------------------
    def _scan(self) -> Op:
        return Op("scan", lambda: _count_sum(self.ds.read(fields=["id", "k"])),
                  lambda r: _count_sum_ok(r, self.total, int(self.ks.sum())))

    def _filter_scan(self) -> Op:
        from space_spark.core.expressions import field, lit

        lo = int(self.rng.integers(0, self.total - self.filter_rows))
        hi = lo + self.filter_rows
        pred = (field("id") >= lit(lo)) & (field("id") < lit(hi))
        return Op("filter_scan",
                  lambda: _count_sum(self.ds.read(filter_=pred,
                                                  fields=["id", "k"])),
                  lambda r: _count_sum_ok(r, hi - lo,
                                          int(self.ks[lo:hi].sum())))

    def _time_travel(self) -> Op:
        n = self.travel_rows
        return Op("time_travel",
                  lambda: _count_sum(self.ds.read(version=self.travel_version,
                                                  fields=["id", "k"])),
                  lambda r: _count_sum_ok(r, n, int(self.ks[:n].sum())))

    def _key_lookup(self) -> Op:
        keys = sorted(int(x) for x in self.rng.choice(
            self.total, self.lookup_keys, replace=False))
        want = {k: int(self.ks[k]) for k in keys}

        def check(rows) -> bool:
            return (len(rows) == len(keys)
                    and {r["id"]: r["k"] for r in rows} == want)

        return Op("key_lookup",
                  lambda: self.ds.read_by_keys(keys, fields=["id", "k"])
                  .collect(), check)

    def _ra_batch(self, kind: str, indices: List[int]) -> Op:
        # The item order is PK order, and ids are 0..total-1.
        return Op(kind, lambda: self.ra.__getitems__(indices),
                  lambda vals: vals == [blob_of(i, self.seed)
                                        for i in indices])

    def round(self, i: int) -> List[Op]:
        seq, shuffled = [], []
        for _ in range(self.batches_per_kind):
            start = self.seq_cursor
            self.seq_cursor = (start + self.batch) % self.total
            seq.append(self._ra_batch(
                "ra_batch_seq",
                [(start + j) % self.total for j in range(self.batch)]))
            shuffled.append(self._ra_batch(
                "ra_batch_shuffled",
                [int(x) for x in self.rng.choice(self.total, self.batch,
                                                 replace=False)]))
        # Batches of one kind run back to back, so sequential ones keep
        # their files in the cache; the order of the six groups is seeded.
        groups = [[self._scan()], [self._filter_scan()], [self._time_travel()],
                  [self._key_lookup()], seq, shuffled]
        order = self.rng.permutation(len(groups))
        return [op for g in order for op in groups[g]]

    def final_check(self) -> List[int]:
        return []


# Orders-shaped rows (the TPC-H ``orders`` columns) as a function of
# (order key, version, seed); ``o_shippriority`` carries the version, so a
# row states which upsert wrote it.
_ORDER_COLS = [
    ("o_orderkey", "o_orderkey"),
    ("o_custkey", "pmod(o_orderkey * 7919 + {v} * 13 + {seed}, 15000) + 1"),
    ("o_orderstatus", "element_at(array('F', 'O', 'P'), "
                      "CAST(pmod(o_orderkey + {v} + {seed}, 3) + 1 AS INT))"),
    ("o_totalprice", "CAST(pmod(o_orderkey * 104729 + {v} * 7 + {seed}, "
                     "50000000) AS DOUBLE) / 100.0 + 900.0"),
    ("o_orderdate", "date_add(DATE'1992-01-01', "
                    "CAST(pmod(o_orderkey * 31 + {v}, 2400) AS INT))"),
    ("o_orderpriority", "element_at(array('1-URGENT', '2-HIGH', '3-MEDIUM', "
                        "'4-NOT SPECIFIED', '5-LOW'), "
                        "CAST(pmod(o_orderkey * 17 + {v} + {seed}, 5) + 1 "
                        "AS INT))"),
    ("o_shippriority", "CAST({v} AS INT)"),
    ("o_comment", "concat('c', CAST(pmod(o_orderkey * 2654435761 + {v}, "
                  "1000000007) AS STRING))"),
]


def price_of(keys: np.ndarray, version: np.ndarray, seed: int) -> np.ndarray:
    raw = (keys.astype(np.int64) * 104729 + version.astype(np.int64) * 7
           + seed) % 50000000
    return raw.astype(np.float64) / 100.0 + 900.0


def orders_df(keys_df, version: int, seed: int):
    return keys_df.selectExpr(*[
        f"{expr.format(v=version, seed=seed)} AS {name}"
        for name, expr in _ORDER_COLS])


def order_keys(n: int) -> np.ndarray:
    """TPC-H's sparse order keys: 8 of every 32, starting at 1."""
    i = np.arange(n, dtype=np.int64)
    return (i // 8) * 32 + i % 8 + 1


class CdcMv:
    """Rounds of change data on an orders table (150k rows, few files, short
    history) that feeds an incrementally refreshed aggregate view: an upsert
    of about 1% of the keys plus new keys, a merge-on-read delete of a key
    range, the view refresh, and a change-feed read of the round; every
    second round a compaction. Copy-on-write rewrite, the Bloom key probe,
    delete vectors and the view refresh do the work, not listing."""

    name = "cdc_mv"
    writer_ops = frozenset({"upsert", "delete", "mv_refresh", "compact"})
    # Latency-critical request: one batch of changes landing in the table
    # and the view, read back as a change feed -- a round without its
    # periodic compaction.
    request_ops = ("upsert", "delete", "mv_refresh", "cdf_read")
    request_is_round = True
    setup_reps = 1
    # Three rounds, so the request's median is robust to one slow op.
    min_rounds = 3
    warm_rounds = 0
    storage_at = 2  # rounds
    rows = 150_000
    load_files = 4
    updates = 1500
    inserts = 500
    delete_span = 400  # key range; about 100 live keys
    compact_every = 2
    group_by = ["o_orderpriority", "o_orderstatus"]
    aggs = {"n": ("count", "*"), "total": ("sum", "o_totalprice"),
            "mx": ("max", "o_totalprice")}

    def __init__(self, spark, work_dir: str, seed: int):
        from space_spark.core.dataset import Dataset

        self._Dataset = Dataset
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.ds = None
        self.mv = None
        self.table_dir = None
        self.storage_ratio: Optional[float] = None
        keys = order_keys(self.rows)
        self.model: Dict[int, int] = dict.fromkeys(keys.tolist(), 0)
        self.next_key = int(keys[-1]) + 1
        self.loaded_version = None
        self.user_bytes = 0.0
        self.row_bytes = 0.0
        self.rounds_run = 0
        self.sizes = {"rows": self.rows, "data_files": self.load_files,
                      "upsert_rows": self.updates + self.inserts,
                      "delete_key_span": self.delete_span}

    def _schema(self):
        return orders_df(self.spark.range(0).selectExpr(
            "id AS o_orderkey"), 0, self.seed).schema

    def _load(self, loc: str, n: int, files: int):
        ds = self._Dataset.create(self.spark, loc, self._schema(),
                                  ["o_orderkey"], bloom_filters=True)
        keys = self.spark.range(0, n, 1, files).selectExpr(
            "(id div 8) * 32 + id % 8 + 1 AS o_orderkey")
        df = orders_df(keys, 0, self.seed)
        ds.append(df)
        return ds

    def _keys_df(self, keys: np.ndarray):
        import pandas as pd

        return self.spark.createDataFrame(
            pd.DataFrame({"o_orderkey": keys.astype(np.int64)}))

    def warm_up(self) -> None:
        # Starts the Python workers and warms the load path. The first
        # round's changes pay their first-call costs in the timed loop;
        # they are small beside a round's run-to-run spread.
        self._load(os.path.join(self.work_dir, "warm"), 64, 1)

    def setup(self, rep: int) -> None:
        self.table_dir = os.path.join(self.work_dir, f"orders_{rep}")
        self.ds = self._load(self.table_dir, self.rows, self.load_files)
        self.mv = self.ds.aggregate_view(self.group_by, self.aggs).materialize(
            self.spark, os.path.join(self.work_dir, f"orders_mv_{rep}"))
        self.mv.refresh()
        self.loaded_version = self.ds.current_snapshot_id

    def prologue(self) -> List[Op]:
        return []

    def round(self, i: int) -> List[Op]:
        from space_spark.core.expressions import field, lit

        version = i + 1
        self.rounds_run = i + 1
        live = np.fromiter(self.model.keys(), dtype=np.int64,
                           count=len(self.model))
        upd = self.rng.choice(live, self.updates, replace=False)
        new = np.arange(self.next_key, self.next_key + self.inserts,
                        dtype=np.int64)
        self.next_key += self.inserts
        keys = np.concatenate([upd, new])
        lo = int(self.rng.integers(1, self.next_key - self.delete_span))
        hi = lo + self.delete_span
        start = {}

        def upsert():
            start["v"] = self.ds.current_snapshot_id
            df = orders_df(self._keys_df(keys), version, self.seed)
            self.ds.upsert(df)

        def after_upsert(_r) -> bool:
            for k in keys.tolist():
                self.model[k] = version
            if not self.row_bytes:  # size the loaded rows once, untimed
                self.user_bytes = float(self.ds.read(
                    version=self.loaded_version).toArrow().nbytes)
                self.row_bytes = self.user_bytes / self.rows
            self.user_bytes += self.row_bytes * len(keys)
            return True

        def delete():
            self.ds.delete((field("o_orderkey") >= lit(lo))
                           & (field("o_orderkey") < lit(hi)), rewrite=False)

        deleted = []

        def after_delete(_r) -> bool:
            deleted.extend(k for k in range(lo, hi) if k in self.model)
            for k in deleted:
                del self.model[k]
            return True

        def cdf():
            d = self.ds.diff(start["v"], self.ds.current_snapshot_id)
            d.write.format("noop").mode("overwrite").save()
            return d

        def check_cdf(d) -> bool:
            counts = {r[0]: r[1] for r in d.groupBy("_change_type").count()
                      .collect()}
            if i + 1 == self.storage_at:
                self.storage_ratio = dir_bytes(self.table_dir) / self.user_bytes
            return counts == {"DELETE": self.updates + len(deleted),
                              "ADD": len(keys)}

        ops = [Op("upsert", upsert, after_upsert, tag=i),
               Op("delete", delete, after_delete, tag=i),
               Op("mv_refresh", self.mv.refresh,
                  lambda applied: len(applied) > 0),
               Op("cdf_read", cdf, check_cdf)]
        if (i + 1) % self.compact_every == 0:
            ops.append(Op("compact", self._compact,
                          lambda n: n == len(self.model)))
        return ops

    def _compact(self) -> int:
        self.ds.compact_delete_vectors()
        self.ds.compact()
        return self.ds.read().count()

    def final_check(self) -> List[int]:
        """The table equals the dict model of the applied upserts and
        deletes: same keys, each row at the version that last wrote it. The
        view equals a ``groupBy`` recomputation of the table (a refresh
        that missed or repeated a change leaves its aggregates wrong)."""
        pdf = self.ds.read(fields=["o_orderkey", "o_shippriority",
                                   "o_totalprice"]).toPandas()
        keys = pdf["o_orderkey"].to_numpy()
        want_v = np.array([self.model.get(int(k), -1) for k in keys])
        ok = (len(pdf) == len(self.model)
              and bool((want_v == pdf["o_shippriority"].to_numpy()).all())
              and bool((price_of(keys, want_v, self.seed)
                        == pdf["o_totalprice"].to_numpy()).all()))
        return [] if ok and self._view_matches() else list(
            range(self.rounds_run))

    def _view_matches(self) -> bool:
        want = {tuple(r[:2]): r[2:] for r in self.ds.read().groupBy(
            *self.group_by).agg(
            F.count(F.lit(1)), F.sum("o_totalprice"),
            F.max("o_totalprice")).collect()}
        got = {tuple(r[:2]): r[2:] for r in self.mv.read().select(
            *self.group_by, "n", "total", "mx").collect()}
        return want.keys() == got.keys() and all(
            got[g][0] == want[g][0] and got[g][2] == want[g][2]
            and math.isclose(got[g][1], want[g][1], rel_tol=1e-9)
            for g in want)


WORKLOADS: Dict[str, type] = {w.name: w for w in (TrickleIngest, ReadMix,
                                                   CdcMv)}
