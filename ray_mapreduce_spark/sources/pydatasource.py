"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource``):
the reference's manifest ingestion as a FIRST-CLASS Spark source.

``MapReduceWithMultipleFiles`` (reference mapreduce.py:176-187) reads
an index file of filenames and round-robins the FILENAMES to mappers,
each mapper opening its own files — the reference's only data-local
input path. Here the same contract becomes a registered Spark data
source: one ``InputPartition`` per listed file, executors open their
own files (the driver reads only the tiny index), and everything
downstream is ordinary DataFrame planning.

This is the template for the ingestion formats a 100 TB pipeline
actually meets (WARC, WET, proprietary record logs): implement
``partitions()`` to enumerate work units from a catalog/manifest and
``read()`` to decode one unit, and Spark provides scheduling,
retries, and the full relational surface on top.

Usage::

    from ray_mapreduce_spark.sources.pydatasource import register_manifest_source
    register_manifest_source(spark)
    df = (spark.read.format("manifest_text")
          .option("index", "/path/to/index.txt").load())
    # schema: path string, line_no bigint, value string
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from .text import manifest_paths


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class ManifestTextReader(DataSourceReader):
    def __init__(self, options):
        self.index = options.get("index")
        if not self.index:
            raise ValueError("manifest_text requires .option('index', <path>)")

    def partitions(self):
        # Driver reads ONLY the index (one path per line) — record
        # bytes never pass through the driver (the reference's
        # acknowledged bottleneck, reference mapreduce.py:25-26).
        return [_FilePartition(p) for p in manifest_paths(self.index)]

    def read(self, partition):
        # Runs on an executor; opens its own file, exactly like the
        # reference's mapper actors (reference mapreduce.py:90-91).
        with open(partition.path) as fh:
            for i, line in enumerate(fh):
                yield (partition.path, i, line.rstrip("\n"))


class ManifestTextDataSource(DataSource):
    @classmethod
    def name(cls):
        return "manifest_text"

    def schema(self):
        return "path string, line_no bigint, value string"

    def reader(self, schema):
        return ManifestTextReader(self.options)

    def writer(self, schema, overwrite):
        return ManifestTextWriter(self.options)


class _FileCommit(WriterCommitMessage):
    def __init__(self, path: str, n_rows: int):
        self.path = path
        self.n_rows = n_rows


class ManifestTextWriter(DataSourceWriter):
    """WRITE side of the manifest contract — the mirror of the
    reader: each task streams its partition to its OWN file under
    option('dir'), returns a commit message naming the file, and the
    DRIVER writes the index (manifest) listing exactly the committed
    files. This is the two-phase-commit shape every serious table
    format uses (task files + atomic manifest publish): a failed or
    speculated task's file is simply never listed, so readers — the
    manifest_text reader above included — observe only complete
    output. Rows must carry a single 'value' string column (the
    reference's record-per-line contract)."""

    def __init__(self, options):
        self.dir = options.get("dir")
        if not self.dir:
            raise ValueError("manifest_text write requires .option('dir', <path>)")

    def write(self, iterator):
        # Executor-side: one file per task, named by the task context
        # (deterministic per attempt; the driver publishes only
        # committed attempts).
        import os

        from pyspark import TaskContext

        ctx = TaskContext.get()
        path = os.path.join(
            self.dir,
            f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.txt",
        )
        os.makedirs(self.dir, exist_ok=True)
        n = 0
        with open(path, "w") as fh:
            for row in iterator:
                fh.write(f"{row.value}\n")
                n += 1
        return _FileCommit(path, n)

    def commit(self, messages):
        # Driver-side atomic publish: the index lists ONLY files from
        # successful commits, written last (rename-free single small
        # file — the manifest IS the table).
        import os

        index = os.path.join(self.dir, "index.txt")
        with open(index, "w") as fh:
            for m in messages:
                fh.write(m.path + "\n")

    def abort(self, messages):
        import os

        for m in messages:
            try:
                os.remove(m.path)
            except OSError:
                pass


def register_manifest_source(spark) -> None:
    """Register the format for ``spark.read.format('manifest_text')``."""
    spark.dataSource.register(ManifestTextDataSource)
