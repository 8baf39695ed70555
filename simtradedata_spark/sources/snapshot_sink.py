"""Spark 4 Python Data Source SINK: pointer-committed snapshot writer.

``df.write.format("simtrade_snapshot").mode(...).save(path)`` — the K-sink
side of the connector story (SURVEY §2.2): it commits into the snapshot
store whose format ``streaming/incremental.py`` defines (and whose helpers
it calls), so ``read_current``, ``list_versions``, ``read_version``,
``snapshot_diff`` and ``vacuum_versions`` work on sink-written stores.
The engine's writer-commit protocol maps onto it as:

  executors  — ``write(iterator)`` streams Arrow-batched rows into ONE
               uniquely-named parquet part file inside a staging dir and
               reports the file in its ``WriterCommitMessage``;
  driver     — ``commit(messages)`` publishes the next free version
               containing exactly the files of SUCCESSFUL tasks (plus, in
               append mode, links to the current version's files), then
               repoints ``_CURRENT``; ``abort()`` discards the staging dir.

A failed job leaves the table untouched; duplicate part files from retried
tasks are invisible because commit only moves the files named in the
success messages — the core of every exactly-once file sink (Delta/Iceberg
do the same with a manifest instead of a directory).

Local-filesystem implementation (os.link/rename); on HDFS/S3 the same
protocol maps onto the cloud committer APIs.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class _PartFile(WriterCommitMessage):
    filename: str
    rows: int


class SnapshotWriter(DataSourceWriter):
    def __init__(self, path: str, schema, overwrite: bool):
        if not path:
            raise ValueError("simtrade_snapshot requires a save path")
        self.path = path
        self.schema = schema
        self.overwrite = overwrite
        self.staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
        os.makedirs(self.staging, exist_ok=True)

    # -- executor side -----------------------------------------------------
    def write(self, iterator: Iterator) -> _PartFile:
        import itertools

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(self.schema)
        cols = [f.name for f in self.schema.fields]
        name = f"part-{uuid.uuid4().hex}.parquet"
        # Stream bounded Arrow batches through a ParquetWriter instead of
        # buffering the whole task partition as Python dicts — peak memory
        # is one batch, not one partition (the property the exactly-once
        # framing promises at scale).
        rows_written = 0
        writer = None
        try:
            while True:
                chunk = list(itertools.islice(iterator, 65536))
                if not chunk and writer is not None:
                    break
                pdf = pd.DataFrame([r.asDict() for r in chunk], columns=cols)
                batch = pa.RecordBatch.from_pandas(
                    pdf, schema=arrow_schema, preserve_index=False
                )
                if writer is None:
                    writer = pq.ParquetWriter(
                        os.path.join(self.staging, name), arrow_schema
                    )
                writer.write_batch(batch)
                rows_written += len(chunk)
                if len(chunk) < 65536:
                    break
        finally:
            if writer is not None:
                writer.close()
        return _PartFile(filename=name, rows=rows_written)

    # -- driver side -------------------------------------------------------
    def commit(self, messages) -> None:
        from simtradedata_spark.streaming.incremental import (
            _committed_batch,
            _repoint,
            _version_dir,
            list_versions,
        )

        prev = _committed_batch(self.path)
        n = max(list_versions(self.path), default=-1) + 1
        final = _version_dir(self.path, n)
        os.makedirs(final)
        # only files from SUCCESSFUL tasks — retried-task orphans stay in
        # staging and are deleted with it.
        for m in messages:
            os.rename(
                os.path.join(self.staging, m.filename),
                os.path.join(final, m.filename),
            )
        if not self.overwrite and prev >= 0:
            # data files only: a "prev-" name would unhide Spark's _SUCCESS
            # and .crc files in a version the streaming folds wrote
            prev_dir = _version_dir(self.path, prev)
            for f in os.listdir(prev_dir):
                if not f.startswith(("_", ".")):
                    os.link(os.path.join(prev_dir, f), os.path.join(final, f"prev-{f}"))
        _repoint(self.path, n)
        shutil.rmtree(self.staging, ignore_errors=True)

    def abort(self, messages) -> None:
        shutil.rmtree(self.staging, ignore_errors=True)


class SnapshotDataSource(DataSource):
    """Registry: ``spark.dataSource.register(SnapshotDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "simtrade_snapshot"

    def writer(self, schema, overwrite: bool) -> SnapshotWriter:
        return SnapshotWriter(self.options.get("path"), schema, overwrite)
