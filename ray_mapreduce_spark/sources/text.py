"""Text-line and manifest sources (reference E4/E12 equivalents).

The reference reads text three ways (reference mapreduce.py:139,
167-173, 176-187): an in-memory iterable, a single smart_open'd file
streamed through the driver, and an index file of filenames
round-robined to mappers. Spark equivalents are all executor-side and
splittable; the manifest variant maps to passing the path list to one
``spark.read.text`` call (data-local, no driver streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_lines(
    spark: SparkSession, path: str | list[str], ignore_first_line: bool = False
) -> DataFrame:
    """Read text file(s) as one `value: string` column, one row per line.

    ``ignore_first_line`` mirrors the reference's header skip
    (reference mapreduce.py:169-170) per FILE, exactly and fully
    distributed — correct even when a file spans multiple input
    splits:

    - ``_metadata.file_block_start`` identifies the split at byte
      offset 0 of each file; Hadoop text splitting guarantees the
      first complete line of that split IS the file's first line (any
      other split skips forward to the first newline past its offset).
    - ``monotonically_increasing_id`` is strictly increasing within a
      partition and a split never spans partitions, so ``min(id)``
      over a file's offset-0 rows is exactly its header row.
    - The header ids (one row per file) broadcast to an anti-join; no
      per-row driver state, no collect of data rows.
    """
    df = spark.read.text(path)
    if not ignore_first_line:
        return df
    tagged = df.select(
        "value",
        F.col("_metadata.file_path").alias("_fp"),
        F.col("_metadata.file_block_start").alias("_bs"),
        F.monotonically_increasing_id().alias("_id"),
    )
    headers = (
        tagged.filter(F.col("_bs") == 0)
        .groupBy("_fp")
        .agg(F.min("_id").alias("_hid"))
        .select(F.col("_fp").alias("_hfp"), "_hid")
    )
    return (
        tagged.join(
            F.broadcast(headers),
            (F.col("_fp") == F.col("_hfp")) & (F.col("_id") == F.col("_hid")),
            "left_anti",
        )
        .select("value")
    )


def read_csv(
    spark: SparkSession,
    path: str | list[str],
    sep: str = ",",
    header: bool = True,
    schema: str | None = None,
) -> DataFrame:
    """Delimited-file source (SURVEY.md §2c File-scan row: csv/tsv with
    separator + header). Pass an explicit ``schema`` in production —
    ``inferSchema`` scans every byte a second time before the real
    read, which is unacceptable at scale; it is enabled here only as
    the schemaless-convenience fallback."""
    r = spark.read.option("sep", sep).option("header", str(header).lower())
    if schema is not None:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", "true")
    return r.csv(path)


def read_csv_with_rejects(
    spark: SparkSession,
    path: str | list[str],
    schema: str,
    rejects_path: str | None = None,
    sep: str = ",",
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """CSV ingestion with a dead-letter queue: PERMISSIVE parse against
    an EXPLICIT schema, malformed rows captured in a corrupt-record
    column and split off as a rejects frame (optionally persisted to
    ``rejects_path`` as JSON for replay). Returns (good, rejects).

    This is the production crawl-ingest shape: a bad row must neither
    kill the job (FAILFAST) nor silently vanish (DROPMALFORMED) — it
    lands in the DLQ with its raw text so the parser can be fixed and
    the rows replayed. Scale notes: the corrupt-record column rides
    the normal scan (no second pass); callers must cache/materialize
    before filtering if they need Spark's corrupt-record query
    restriction lifted — here the split goes through one
    localCheckpoint-free filter each, which Spark 4 permits on a
    separate column reference."""
    corrupt = "_corrupt_record"
    full = schema.rstrip() + f", {corrupt} STRING"
    df = (
        spark.read.option("sep", sep)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .schema(full)
        .csv(path)
        # Spark forbids filtering on the corrupt-record column straight
        # off the scan (raw-data queries restriction) — materialize the
        # column via cache() per the documented workaround.
        .cache()
    )
    good = df.filter(F.col(corrupt).isNull()).drop(corrupt)
    rejects = df.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw")
    )
    if rejects_path is not None:
        rejects.write.mode("overwrite").json(rejects_path)
    return good, rejects


def manifest_paths(index_path: str) -> list[str]:
    """The paths an index file lists: one per line, surrounding
    whitespace stripped, blank lines skipped."""
    with open(index_path) as fh:
        return [line.strip() for line in fh if line.strip()]


def read_manifest(spark: SparkSession, index_path: str) -> DataFrame:
    """Reference ``MapReduceWithMultipleFiles`` source (reference
    mapreduce.py:176-187): an index file lists one path per line; read
    all listed files. The driver reads only the (tiny) index; record
    bytes stay executor-side. Paths go to ``spark.read.text`` as a
    list (never joined with a delimiter), so commas and glob
    metacharacters in a path are read verbatim."""
    return spark.read.text(manifest_paths(index_path))


def read_jsonl(
    spark: SparkSession,
    path: str | list[str],
    schema: str | None = None,
    multiline: bool = False,
) -> DataFrame:
    """JSON-lines source (one JSON object per line — the interchange
    format most crawl/training corpora actually arrive in). Pass an
    explicit ``schema`` in production: schema inference reads every
    byte once before the real scan — a full extra pass at 100 TB; it
    stays available here as the schemaless-convenience fallback.
    ``multiline=True`` switches to whole-file JSON documents (each
    file becomes one record scope — not splittable, so keep files
    small in that mode)."""
    r = spark.read.option("multiLine", str(multiline).lower())
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)
