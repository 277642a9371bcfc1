"""File-staged export/import (SURVEY.md §2.1 S4-S8).

COPY TO/FROM (docs/02-native-tooling.md:295-414) and dsbulk
unload/load (docs/03-dse-tooling.md:24-374) stage tables through
CSV/JSON files with delimiter/quote/escape/null-repr/date-format/
compression options.  Spark's DataFrameReader/Writer covers the whole
option surface; these wrappers pin the reference's defaults and
names.  Unloads are inherently parallel (one file per task — dsbulk's
multi-file output); ``single_file=True`` gets COPY's one-CSV shape.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# COPY defaults: docs/02-native-tooling.md:303-358
COPY_DEFAULTS = {
    "header": "true",
    "sep": ",",
    "quote": '"',
    "escape": "\\",
    "nullValue": "",
    "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSXXX",
}


def csv_export(
    df: DataFrame,
    path: str,
    header: bool = True,
    delimiter: str = ",",
    quote: str = '"',
    escape: str = "\\",
    null_value: str = "",
    timestamp_format: str | None = None,
    compression: str | None = None,
    single_file: bool = False,
    max_errors_ignored: None = None,
) -> None:
    """S4: COPY TO / dsbulk unload -c csv."""
    w = df.coalesce(1) if single_file else df
    writer = (
        w.write.mode("overwrite")
        .option("header", str(header).lower())
        .option("sep", delimiter)
        .option("quote", quote)
        .option("escape", escape)
        .option("nullValue", null_value)
    )
    if timestamp_format:
        writer = writer.option("timestampFormat", timestamp_format)
    if compression:  # S8: --connector.csv.compression gzip
        writer = writer.option("compression", compression)
    writer.csv(path)


def csv_import(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
    delimiter: str = ",",
    quote: str = '"',
    escape: str = "\\",
    null_value: str = "",
    timestamp_format: str | None = None,
    max_errors: int | None = None,
    bad_records_path: str | None = None,
) -> DataFrame:
    """S5: COPY FROM / dsbulk load.  ``bad_records_path`` +
    PERMISSIVE/DROPMALFORMED is the maxErrors analogue
    (docs/03-dse-tooling.md:217-228): malformed rows are quarantined
    instead of failing the load."""
    reader = (
        spark.read.option("header", str(header).lower())
        .option("sep", delimiter)
        .option("quote", quote)
        .option("escape", escape)
        .option("nullValue", null_value)
        .option("mode", "DROPMALFORMED" if max_errors is not None else "PERMISSIVE")
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    if bad_records_path:
        reader = reader.option("badRecordsPath", bad_records_path)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def json_export(df: DataFrame, path: str, compression: str | None = None) -> None:
    """S6: dsbulk unload --connector.name json (one JSON doc per row)."""
    writer = df.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def json_import(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def orc_export(
    df: DataFrame,
    path: str,
    compression: str = "zlib",
    partition_cols: list[str] | None = None,
) -> None:
    """Columnar staging in ORC — the second columnar format big-data
    stacks expect next to parquet (Hive/Trino interchange).  Same
    parallel-unload shape as S6; ORC's zlib default mirrors the
    compressed-staging option surface (S8)."""
    w = df.write.mode("overwrite").option("compression", compression)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.orc(path)


def orc_import(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Read back an ORC staging dir; explicit schema skips inference
    (footer reads) on wide directories."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)


def xml_export(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    compression: str | None = None,
) -> None:
    """XML staging — the third interchange format legacy enterprise
    pipelines expect next to CSV/JSON (dsbulk has no XML connector;
    COPY-era tooling round-trips through ad-hoc XML dumps instead).
    Spark 4 ships the ``xml`` source natively (the former
    databricks/spark-xml, merged upstream), so the unload keeps the
    same parallel one-file-per-task shape as S4/S6."""
    w = (
        df.write.mode("overwrite")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
    )
    if compression:
        w = w.option("compression", compression)
    w.format("xml").save(path)


def xml_import(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    row_tag: str = "row",
) -> DataFrame:
    """Read back an XML staging dir.  An explicit schema both skips
    the inference pass and pins element types (XML carries no type
    metadata, so inference alone would widen e.g. DECIMAL to DOUBLE)."""
    r = spark.read.option("rowTag", row_tag)
    if schema is not None:
        r = r.schema(schema)
    return r.format("xml").load(path)


def binary_import(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Raw-media ingest via Spark's ``binaryFile`` source: each file
    becomes one row (path, modificationTime, length, content binary) —
    the on-ramp that feeds ``operators/multimodal`` without ever
    materializing file bytes on the driver.  At 100 TB this is how
    image/audio corpora enter the engine: the source parallelizes per
    file, pushes ``pathGlobFilter`` down to the listing, and the
    opaque payload column flows straight into Arrow-batched decode/
    feature UDFs."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    if recursive:
        r = r.option("recursiveFileLookup", "true")
    return r.load(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
) -> int:
    """Compact a small-file parquet directory into ~``target_mb``
    files; returns the new file count.

    Streaming sinks and per-batch writers accrete thousands of tiny
    files; scans then pay per-file open/footer costs and lose
    row-group-level pruning.  Compaction = read → repartition to
    ceil(bytes/target) → atomic-ish swap (write aside, move over).
    At lake scale this is the OPTIMIZE/rewrite maintenance job; the
    repartition is the only shuffle and writes stay fully parallel.
    """
    import math
    import shutil

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    tmp = path.rstrip("/") + "_compacting"
    spark.read.parquet(path).repartition(n).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    shutil.move(tmp, path)
    return sum(
        1
        for _, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def parquet_rowgroup_stats(spark, path: str):
    """Row-group-level metadata report: (file, row_group, num_rows,
    n_columns) per row group — the data-skipping inventory a layout
    review reads (row-group sizing drives min/max pruning
    effectiveness; see ``operators/layout`` for the Z-order side).

    Scale shape: footers are KB-sized but a 100 TB table has ~10⁶
    files, so the footer reads are DISTRIBUTED — the file list
    parallelizes and each executor reads its files' metadata with
    pyarrow (Arrow-batched, no row data touched).  The report is
    O(row groups)."""
    import math
    from collections.abc import Iterator

    import pandas as pd

    files = spark.read.parquet(path).inputFiles()
    # ~64 footers per task: at 10^6 files that is ~16K parallel tasks,
    # while a local 10-file fixture costs ONE Python worker instead of
    # defaultParallelism near-empty ones (each worker spawn is ~100 ms,
    # which dominated the report at small scale)
    fdf = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(max(1, math.ceil(len(files) / 64)))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for p in batches:
            out = {"file": [], "row_group": [], "num_rows": [], "n_columns": []}
            for f in p["file"]:
                local = f[5:] if f.startswith("file:") else f
                md = pq.ParquetFile(local).metadata
                for i in range(md.num_row_groups):
                    out["file"].append(local.rsplit("/", 1)[-1])
                    out["row_group"].append(i)
                    out["num_rows"].append(md.row_group(i).num_rows)
                    out["n_columns"].append(md.row_group(i).num_columns)
            yield pd.DataFrame(out)

    return fdf.mapInPandas(
        scan, "file string, row_group int, num_rows long, n_columns int"
    )


def parquet_evolved_read(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files were written under
    EVOLVING schemas (columns added over time) as one DataFrame with
    the union schema — old files surface NULL for columns they
    predate.  ``mergeSchema`` makes the footer reconciliation
    explicit (Spark's default trusts a single footer, which silently
    drops late columns when an old file is sampled).

    100 TB note: schema merge reads every file FOOTER (not data) once
    at planning; for lakes with 10⁶+ files pin the schema explicitly
    and keep this flag for the reconciliation/audit path.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)


SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job.

    Spark infers a parquet directory's schema with a one-task job that
    reads the first data file's footer (``mergeSchema`` off) and
    prefers the Spark schema JSON it finds under
    :data:`SPARK_SCHEMA_KEY`.  On a 4-vCPU host that job takes ~75 ms
    per table warm, while the same footer read on the driver with
    pyarrow takes under 1 ms, so a table Spark wrote is read with its
    own schema given.

    Every input where the driver-side read could differ from Spark's
    inference is left to Spark (:func:`_spark_footer_schema` returns
    None): a non-local or relative path, a glob, partition or other
    subdirectories, ``_metadata``/``_common_metadata`` summaries,
    ``mergeSchema`` on, or a first file without the key (pyarrow or
    DuckDB output).  Each call reads the footer afresh, so a rewritten
    table is never read with a stale schema."""
    schema = _spark_footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _spark_footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema Spark's inference would take for ``path``, from the
    footer of the first data file in Spark's own order, or None when
    that cannot be decided on the driver."""
    import json
    from urllib.parse import urlsplit

    import pyarrow.parquet as pq

    url = urlsplit(path)
    if url.scheme not in ("", "file") or url.netloc:
        return None
    local = url.path if url.scheme else path
    # Spark resolves a relative path against the JVM's working
    # directory, which the Python process may since have left
    if not os.path.isabs(local) or any(ch in local for ch in "*?[]{}\\"):
        return None
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    # (name, path, is_dir) of the leaves Spark lists: a named file is
    # its own listing and passes the same name rules
    if os.path.isfile(local):
        listing = [(os.path.basename(local), local, False)]
    else:
        try:
            with os.scandir(local) as it:
                listing = [(e.name, e.path, e.is_dir()) for e in it]
        except OSError:
            return None
    data = []
    for name, leaf, is_dir in listing:
        if name.startswith(("_metadata", "_common_metadata")):
            return None  # Spark infers from the summary first
        # Spark's hidden-path rule (HadoopFSUtils.shouldFilterOutPathName)
        if (
            name.startswith(".")
            or (name.startswith("_") and "=" not in name)
            or name.endswith("._COPYING_")
        ):
            continue
        if is_dir:
            return None  # partition discovery is Spark's
        data.append(leaf)
    if not data:
        return None
    try:
        # Spark reads the first leaf in path order
        raw = (pq.read_metadata(min(data)).metadata or {}).get(SPARK_SCHEMA_KEY)
    except (OSError, ValueError):
        return None  # not a parquet file: Spark raises its own error
    if raw is None:
        return None
    try:
        return StructType.fromJson(json.loads(raw))
    except (ValueError, KeyError, TypeError):
        return None  # Spark's pre-JSON schema string: Spark parses it


def fixed_width_export(
    df: DataFrame,
    path: str,
    fmt: str,
    cols: list[str],
    line_width: int | None = None,
) -> None:
    """Fixed-width text staging — the mainframe/COBOL copybook
    interchange format legacy feeds still arrive in (no delimiter, no
    quoting: every column is a byte range).  ``fmt`` is a printf
    layout (e.g. ``%10d%-25s%5d%14.2f``) applied row-wise JVM-side;
    same parallel one-file-per-task unload shape as S4.

    ``line_width`` (the copybook's total record width) arms an
    overflow tripwire: printf WIDENS a field whose value exceeds its
    width, silently shifting every later byte range so the importer
    reads wrong/NULL columns.  With the width pinned, any overflowing
    row fails the job loudly instead."""
    from pyspark.sql import functions as F

    line = F.format_string(fmt, *[F.col(c) for c in cols])
    if line_width is not None:
        line = F.when(F.length(line) == line_width, line).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"fixed-width overflow: rendered line length "
                    ),
                    F.length(line).cast("string"),
                    F.lit(f" != copybook width {line_width}: "),
                    line,
                )
            )
        )
    df.select(line.alias("value")).write.mode("overwrite").text(path)


def fixed_width_import(
    spark: SparkSession,
    path: str,
    colspecs: list[tuple[str, int, int, str]],
) -> DataFrame:
    """Parse a fixed-width file back into typed columns.  ``colspecs``
    is ``(name, start_1_indexed, width, spark_type)`` per column —
    the copybook.  Parsing is substring+trim+cast, fully codegen'd
    (no UDF); a malformed row surfaces as NULLs from the cast, the
    PERMISSIVE-mode analogue.

    Trim rule: STRING fields are left-aligned in copybook convention,
    so only the right-side padding is stripped (``rtrim``) — a full
    trim would eat significant leading spaces in the data.  Numeric
    fields are right-aligned (space-padded on the left) and trim on
    both edges before the cast."""
    from pyspark.sql import functions as F

    raw = spark.read.text(path)

    def _field(name, start, width, typ):
        sub = F.substring(F.col("value"), start, width)
        cleaned = F.rtrim(sub) if typ == "string" else F.trim(sub)
        return cleaned.cast(typ).alias(name)

    return raw.select(
        *[_field(*spec) for spec in colspecs]
    )
