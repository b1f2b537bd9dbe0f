"""Custom Python DataSource (Spark 4 DataSource API): a deterministic
synthetic-events connector with partitioned parallel reads AND Python-side
filter pushdown.

Why it exists: the engine's other sources are files (parquet fixtures,
repo walks, the index importer). A 100 TB pipeline also pulls from
service-shaped sources — internal APIs, synthetic load generators, legacy
stores — and Spark 4's Python DataSource API is the idiomatic way to wrap
those without a JVM connector. This module demonstrates the full surface
the engine would use for any such connector:

- ``partitions()`` → N independent row-range splits (reads scale out
  exactly like a parquet scan; no driver bottleneck),
- ``pushFilters()`` → ``event_type = X`` / ``user_id`` range predicates
  are applied INSIDE the generator (Spark re-applies what we return, so
  handled filters cut rows at the source — the Python analog of parquet
  PushedFilters),
- deterministic generation (md5-counter; same rows every run, any
  partitioning) so tests can value-check results, mirroring the md5-draw
  discipline of ``queries/_draws.py``.

`tests/test_python_datasource.py` pins determinism, partition-count
scaling, pushdown row reduction, and parity between the pushed and
post-filtered plans.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

_TYPES = ("click", "view", "purchase", "signup", "error")
_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double"
)
_EPOCH_START = 1704067200  # 2024-01-01T00:00:00Z


def _row(i: int, n_users: int):
    """Deterministic event i: all fields derive from md5(i) so any
    partitioning of the id space yields identical rows."""
    from datetime import datetime, timezone

    h = hashlib.md5(str(i).encode()).hexdigest()
    user_id = int(h[:8], 16) % n_users
    etype = _TYPES[int(h[8:10], 16) % len(_TYPES)]
    value = round((int(h[10:16], 16) % 10_000) / 100.0, 2)
    ts = datetime.fromtimestamp(_EPOCH_START + i * 7, tz=timezone.utc).replace(
        tzinfo=None
    )
    return (i, ts, user_id, etype, value)


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_parts = int(options.get("n_partitions", 4))
        self.n_users = int(options.get("n_users", 100))
        self.type_eq: str | None = None
        self.user_lo: int | None = None  # inclusive
        self.user_hi: int | None = None  # exclusive
        self.never_match = False  # contradictory pushed equalities

    def _tighten_lo(self, lo: int) -> None:
        self.user_lo = lo if self.user_lo is None else max(self.user_lo, lo)

    def _tighten_hi(self, hi: int) -> None:
        self.user_hi = hi if self.user_hi is None else min(self.user_hi, hi)

    def pushFilters(self, filters):
        # Conjunctive semantics: every consumed filter must hold, so repeated
        # filters on one column TIGHTEN the accepted range (max of lower
        # bounds, min of upper bounds) rather than overwrite each other.
        for f in filters:
            # ColumnPath is a tuple of name parts; top-level columns only
            col = f.attribute[0] if len(f.attribute) == 1 else None
            if isinstance(f, EqualTo) and col == "event_type":
                if self.type_eq is not None and self.type_eq != f.value:
                    # two different required equalities: provably empty scan
                    self.never_match = True
                self.type_eq = f.value
            elif isinstance(f, GreaterThan) and col == "user_id":
                self._tighten_lo(f.value + 1)
            elif isinstance(f, GreaterThanOrEqual) and col == "user_id":
                self._tighten_lo(f.value)
            elif isinstance(f, LessThan) and col == "user_id":
                self._tighten_hi(f.value)
            elif isinstance(f, LessThanOrEqual) and col == "user_id":
                self._tighten_hi(f.value + 1)
            else:
                yield f  # not handled — Spark keeps this filter

    def partitions(self):
        # ceil division: exactly n_parts splits (no remainder partition)
        per = max(1, -(-self.n_rows // self.n_parts))
        parts = []
        start = 0
        while start < self.n_rows:
            parts.append(_RangePartition(start, min(start + per, self.n_rows)))
            start += per
        return parts

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        if self.never_match:
            return
        for i in range(partition.start, partition.end):
            row = _row(i, self.n_users)
            if self.type_eq is not None and row[3] != self.type_eq:
                continue
            if self.user_lo is not None and row[2] < self.user_lo:
                continue
            if self.user_hi is not None and row[2] >= self.user_hi:
                continue
            yield row


class SyntheticEventsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> SyntheticEventsReader:
        return SyntheticEventsReader(self.options)


def register(spark) -> None:
    """Register the source and enable Python filter pushdown (off by
    default in Spark 4 — a reader implementing pushFilters() hard-errors
    without `spark.sql.python.filterPushdown.enabled=true`)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SyntheticEventsDataSource)


# --------------------------------------------------- streaming + sink side
# The same connector surface, streaming-in and writing-out:
#
# - ``SyntheticEventsStreamReader`` (SimpleDataSourceStreamReader): offsets
#   are row counters ({"offset": n}); each micro-batch reads the next
#   ``rows_per_batch`` deterministic events. readBetweenOffsets() makes
#   replay exact — a re-delivered (start, end) range regenerates the
#   identical rows, which is the property every exactly-once sink
#   downstream (streaming/upsert_sink.py) relies on.
# - ``JsonlShardWriter`` (DataSourceWriter): each task writes one JSONL
#   shard then reports it in its WriterCommitMessage; commit() writes a
#   _MANIFEST listing exactly the committed shards (readers that honor the
#   manifest never see an aborted task's partial shard — the minimal
#   file-sink commit protocol).


from pyspark.sql.datasource import (  # noqa: E402
    DataSourceWriter,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.rows_per_batch = int(options.get("rows_per_batch", 100))
        self.max_rows = int(options.get("max_rows", 10**9))
        self.n_users = int(options.get("n_users", 100))

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def read(self, start: dict):
        lo = start["offset"]
        hi = min(lo + self.rows_per_batch, self.max_rows)
        return (iter([_row(i, self.n_users) for i in range(lo, hi)]),
                {"offset": hi})

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(
            [_row(i, self.n_users)
             for i in range(start["offset"], end["offset"])]
        )

    def commit(self, end: dict) -> None:
        pass


class _ShardCommit(WriterCommitMessage):
    def __init__(self, shard_path: str, n_rows: int):
        self.shard_path = shard_path
        self.n_rows = n_rows


class JsonlShardWriter(DataSourceWriter):
    """DataSourceWriter: JSONL shards + commit manifest (see note)."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_shards sink requires option 'path'")
        self.overwrite = overwrite

    def write(self, iterator):
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        shard = os.path.join(self.path, f"shard-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(shard, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _ShardCommit(shard, n)

    def commit(self, messages):
        import json
        import os

        manifest = {
            "shards": sorted(
                os.path.basename(m.shard_path) for m in messages if m
            ),
            "rows": sum(m.n_rows for m in messages if m),
        }
        with open(os.path.join(self.path, "_MANIFEST"), "w") as f:
            json.dump(manifest, f)

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None:
                try:
                    os.remove(m.shard_path)
                except OSError:
                    pass


class JsonlShardsDataSource(DataSource):
    """Sink-only data source: ``df.write.format("jsonl_shards")``."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_shards"

    def schema(self) -> str:  # unused for a sink, required by the ABC
        return "value string"

    def writer(self, schema, overwrite: bool) -> JsonlShardWriter:
        return JsonlShardWriter(self.options, overwrite)


def _streaming_reader(self, schema):
    return SyntheticEventsStreamReader(self.options)


# the batch source doubles as a streaming source
SyntheticEventsDataSource.simpleStreamReader = _streaming_reader


def register_all(spark) -> None:
    """Register batch+stream source and the JSONL sharded sink."""
    register(spark)
    spark.dataSource.register(JsonlShardsDataSource)
