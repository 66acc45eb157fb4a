"""The commit-log table as a first-class Spark data source — batch AND
Structured Streaming — via the Spark 4 Python DataSource API.

    spark.dataSource.register(OmeTableLogDataSource)
    spark.read.format("ome_table_log").option("path", t).load()
    spark.readStream.format("ome_table_log").option("path", t).load()

Batch: one input partition per live manifest file (the manifest IS the
planner — no directory listing), read executor-side with pyarrow as
Arrow RecordBatches.  A file's deletion vector is applied INSIDE its
partition by masking row positions against the sidecar — no join at
all, the Delta-reader shape (the DataFrame path in table_log._scan
uses a broadcast anti-join instead because it cannot reach into the
scan; this source can).

Streaming: offsets are commit VERSIONS.  Each micro-batch covers the
net-added files of ``(start, end]`` — one partition per added file —
so a K-commit batch reads the K commits' churn, never the table.  The
source is append-only by contract: a version range that removes or
re-adds files (upsert/delete/compact churn) raises unless
``ignoreChanges`` is set, in which case rewritten files are RE-EMITTED
whole (same semantics as Delta's ``ignoreChanges``: downstream may see
duplicates, never loss of NEW rows).  Offset commits give the usual
Structured Streaming exactly-once-per-version guarantee across
restarts via the checkpoint.

Reference context: the reference library has no streaming at all; this
closes the "stream new images as they land in the table" loop the
engine's OME ingest queries already exercise from the write side.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)


class _FilePartition(InputPartition):
    def __init__(self, table: str, rel_path: str, dv_rel: str | None):
        self.table = table
        self.rel_path = rel_path
        self.dv_rel = dv_rel


def _read_file_arrow(table: str, rel_path: str, dv_rel: str | None,
                     schema_json: str):
    """Executor-side: one manifest file → Arrow batches, deletion
    vector applied by position mask (no join).  Batches are cast to
    the table schema's Arrow form — parquet physical drift (e.g.
    nanosecond timestamps from pyarrow-written files vs Spark's
    microseconds) is resolved here, once, in the scan."""
    import numpy as np
    import pyarrow.parquet as pq

    from ome_arrow_spark.sources.table_log import _read_dv

    schema = T.StructType.fromJson(json.loads(schema_json))
    columns = [f.name for f in schema.fields]
    tbl = pq.read_table(os.path.join(table, rel_path), columns=columns)
    if dv_rel is not None:
        deleted = _read_dv(table, dv_rel)
        mask = np.ones(tbl.num_rows, dtype=bool)
        idx = deleted[deleted < tbl.num_rows].astype("int64")
        mask[idx] = False
        tbl = tbl.filter(mask)
    tbl = tbl.select(columns).cast(_spark_to_arrow_schema(schema))
    yield from tbl.to_batches()


class _LogBatchReader(DataSourceReader):
    def __init__(self, table: str, schema_json: str):
        self.table = table
        self.schema_json = schema_json

    def partitions(self):
        from ome_arrow_spark.sources import table_log as tl

        snap = tl._resolve_snapshot(self.table)
        return [
            _FilePartition(
                self.table, p, (a.get("dv") or {}).get("path")
            )
            for p, a in sorted(snap["files"].items())
        ]

    def read(self, partition: _FilePartition):
        yield from _read_file_arrow(
            partition.table, partition.rel_path, partition.dv_rel,
            self.schema_json,
        )


class _LogStreamReader(DataSourceStreamReader):
    def __init__(self, table: str, schema_json: str,
                 ignore_changes: bool, start_version: int | None):
        self.table = table
        self.schema_json = schema_json
        self.ignore_changes = ignore_changes
        self.start_version = start_version

    def initialOffset(self) -> dict:
        # default: the whole current table is the first batch
        # (start_version=N begins after version N instead)
        from ome_arrow_spark.sources import table_log as tl

        if self.start_version is not None:
            return {"version": int(self.start_version)}
        versions = tl._list_versions(self.table)
        if not versions:
            # not a log table yet (e.g. the writer starts after the
            # stream): wait-for-data offset; partitions() emits no
            # batch until a version lands and latestOffset advances
            return {"version": -1}
        return {"version": versions[0] - 1}

    def latestOffset(self) -> dict:
        from ome_arrow_spark.sources import table_log as tl

        cur = tl.current_version(self.table)
        return {"version": -1 if cur is None else int(cur)}

    def partitions(self, start: dict, end: dict):
        from ome_arrow_spark.sources import table_log as tl

        lo, hi = int(start["version"]), int(end["version"])
        if hi <= lo:
            return []
        snap = tl._resolve_snapshot(self.table, hi)
        if lo < 0:
            added = sorted(snap["files"])
            removed: list[str] = []
        else:
            added, removed = tl.version_delta_files(self.table, lo, hi)
        if removed and not self.ignore_changes:
            raise tl.TableLogError(
                f"versions ({lo}, {hi}] rewrite or remove files — the "
                "stream source is append-only; set ignoreChanges to "
                "re-emit rewritten files instead (downstream may then "
                "see duplicates, never lose NEW rows — Delta's "
                "ignoreChanges contract)"
            )
        return [
            _FilePartition(
                self.table, p,
                (snap["files"][p].get("dv") or {}).get("path"),
            )
            for p in added
            if p in snap["files"]  # added-then-vacuumed guard
        ]

    def read(self, partition: _FilePartition):
        yield from _read_file_arrow(
            partition.table, partition.rel_path, partition.dv_rel,
            self.schema_json,
        )

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint


class _FilesMessage(WriterCommitMessage):
    def __init__(self, files: list[str]):
        self.files = files


def _spark_to_arrow_schema(schema: T.StructType):
    from pyspark.sql.pandas.types import to_arrow_type

    import pyarrow as pa

    return pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType), f.nullable)
         for f in schema.fields]
    )


class _LogWriterBase:
    """Shared task-side write: each task lands ONE uniquely-named
    parquet file in the table directory (crash before commit leaves an
    orphan for vacuum — identical to the staged-swap contract of
    `_write_data_files`) and reports its name in the commit message.
    The DRIVER then publishes all files in one atomic log commit —
    the two-phase write the DataSource API is shaped for.

    Schema is validated name+type against the table; CHECK constraints
    are a DataFrame-API feature and are NOT evaluated on this path
    (documented: the writer is the raw-file seam)."""

    def __init__(self, table: str, schema: T.StructType):
        self.table = table
        self.schema_json = schema.json()

    _CHUNK_ROWS = 65536

    def write(self, iterator) -> _FilesMessage:
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = T.StructType.fromJson(json.loads(self.schema_json))
        pa_schema = _spark_to_arrow_schema(schema)
        writer = None
        name = f"part-w-{_uuid.uuid4().hex}.parquet"
        full = os.path.join(self.table, name)
        chunk: list[dict] = []

        def flush():
            nonlocal writer
            if not chunk:
                return
            batch = pa.Table.from_pylist(chunk, schema=pa_schema)
            if writer is None:
                os.makedirs(self.table, exist_ok=True)
                writer = pq.ParquetWriter(
                    full, pa_schema, compression="zstd"
                )
            writer.write_table(batch)
            chunk.clear()

        # chunked row groups: a 128 MB task partition never sits in
        # memory as python dicts all at once
        for r in iterator:
            chunk.append(r.asDict(recursive=True))
            if len(chunk) >= self._CHUNK_ROWS:
                flush()
        flush()
        if writer is None:
            return _FilesMessage([])
        writer.close()
        return _FilesMessage([name])

    def abort(self, messages) -> None:
        for m in messages or []:
            for f in getattr(m, "files", []) or []:
                try:
                    os.unlink(os.path.join(self.table, f))
                except OSError:
                    pass

    # -- driver-side helpers -------------------------------------------
    def _adds(self, messages):
        from ome_arrow_spark.sources.table_log import _file_add_action

        files = [
            f for m in messages if m is not None
            for f in getattr(m, "files", [])
        ]
        return [_file_add_action(self.table, f, self._stat_cols(), ())
                for f in files]

    def _stat_cols(self):
        from ome_arrow_spark.sources.table_log import _stats_columns

        return tuple(_stats_columns(
            T.StructType.fromJson(json.loads(self.schema_json))
        ))

    def _publish(self, adds, operation="append", **entry_fields):
        """Commit the tasks' files through the table log's blind-append
        loop (creating the table when absent); None when the batch
        was a replay."""
        from ome_arrow_spark.sources import table_log as tl

        return tl._blind_append(
            self.table, adds, operation,
            schema=T.StructType.fromJson(json.loads(self.schema_json)),
            **entry_fields,
        )


class _LogBatchWriter(_LogWriterBase, DataSourceWriter):
    def __init__(self, table, schema, overwrite):
        super().__init__(table, schema)
        self.overwrite = overwrite

    def commit(self, messages):
        os.makedirs(self.table, exist_ok=True)
        self._publish(
            self._adds(messages),
            "overwrite" if self.overwrite else "append",
        )


class _LogStreamWriter(_LogWriterBase, DataSourceStreamWriter):
    """Exactly-once streaming sink: with option ``txnAppId`` set, each
    micro-batch commit also records ``txn.<app> = batchId`` in the
    table properties; a REPLAYED batch (restart after a commit but
    before the checkpoint advanced) is detected and skipped, its files
    left as vacuum-able orphans — Delta's idempotent-writes
    (txnAppId/txnVersion) contract.  Without ``txnAppId`` the sink is
    at-least-once under crash replay."""

    def __init__(self, table, schema, txn_app):
        super().__init__(table, schema)
        self.txn_app = txn_app

    def commit(self, messages, batchId: int) -> None:
        os.makedirs(self.table, exist_ok=True)
        props = {f"txn.{self.txn_app}": str(batchId)} if self.txn_app else None
        if self._publish(self._adds(messages), properties=props) is None:
            self.abort(messages)  # replayed batch: drop files

    def abort(self, messages, batchId: int | None = None) -> None:
        _LogWriterBase.abort(self, messages)


class OmeTableLogDataSource(DataSource):
    """``format("ome_table_log")`` — options: ``path`` (required),
    ``ignoreChanges`` ("true"/"false"), ``startVersion`` (stream
    starts AFTER this version; default: whole table first)."""

    @classmethod
    def name(cls) -> str:
        return "ome_table_log"

    def _table(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("ome_table_log requires option 'path'")
        return os.path.abspath(path)

    def schema(self):
        from ome_arrow_spark.sources import table_log as tl

        snap = tl._resolve_snapshot(self._table())
        return T.StructType.fromJson(json.loads(snap["schema"]))

    def reader(self, schema) -> DataSourceReader:
        return _LogBatchReader(self._table(), self.schema().json())

    def streamReader(self, schema) -> DataSourceStreamReader:
        opt = {k.lower(): v for k, v in self.options.items()}
        sv = opt.get("startversion")
        return _LogStreamReader(
            self._table(),
            self.schema().json(),
            str(opt.get("ignorechanges", "false")).lower() == "true",
            int(sv) if sv is not None else None,
        )

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _LogBatchWriter(self._table(), schema, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> DataSourceStreamWriter:
        opt = {k.lower(): v for k, v in self.options.items()}
        return _LogStreamWriter(
            self._table(), schema, opt.get("txnappid")
        )


def register(spark) -> None:
    spark.dataSource.register(OmeTableLogDataSource)
