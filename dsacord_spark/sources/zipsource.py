"""S3/S4 — ZIP and nested-ZIP extraction as a distributed source
(/root/reference/utils.go:50-86, 121-148).

The reference fans out one goroutine per ZIP entry and materializes every
archive fully in memory (quirk Q7, README warns about it). Spark-first
design instead:

- `spark.read.format("binaryFile")` lists the staged ZIPs; Spark assigns
  whole files to tasks (a ZIP is not splittable), so across-file
  parallelism replaces the reference's worker pool.
- a `mapInArrow` generator walks each archive with Python `zipfile`,
  recursing one level into nested `.zip` entries exactly like
  readFileAndExtractDecisions (utils.go:130-140), and yields CSV bytes
  per inner file — streaming per entry, never holding the whole expansion
  (Q7 divergence: we keep only one entry's bytes at a time).
- CSV parsing happens in the same pass, Arrow-native: pyarrow's CSV
  reader emits record batches straight to the JVM, with the 36 wire
  columns as strings. Members it rejects (ragged rows, invalid UTF-8)
  or whose header repeats a name go to one row parser with the
  reference's S5 semantics (ragged rows tolerated, blank lines skipped,
  missing columns -> '', utils.go:161,167-191). Typed decoding stays in
  Spark columns (transform.py) so F1-F5 remain Catalyst expressions.

At 100 TB: binaryFile scan over dt=YYYY-MM-DD partitions gives partition
pruning by date; maxFilesPerTrigger bounds a streaming backfill at one
dump ZIP per file (`extract_staged_zips` serves batch and stream alike);
one task per daily ZIP matches the reference's unit of work (main.go:146-154).
"""

from __future__ import annotations

import csv
import io
import shutil
import tempfile
import zipfile
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyarrow import csv as pa_csv
from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.streaming import DataStreamReader

from dsacord_spark.schema import CSV_COLUMNS

# wire schema for the extraction output: all strings + provenance
EXTRACT_SCHEMA = (
    ", ".join(f"{c} string" for c in CSV_COLUMNS) + ", _source_file string"
)
WIRE_SCHEMA = pa.schema(
    [pa.field(c, pa.string()) for c in CSV_COLUMNS + ["_source_file"]]
)


# inner archives up to this size stay in memory; larger ones spill to a
# task-local temp file (quirk Q7: the reference materializes every nested
# archive fully in RAM, utils.go:131 — the README warns about it)
INNER_SPOOL_BYTES = 64 << 20


def _iter_csv_members(data: bytes, name: str) -> Iterator[tuple[str, bytes]]:
    """Yield (member_name, csv_bytes) from a ZIP, recursing one level into
    nested .zip entries (utils.go:130-140). The nested archive is streamed
    through a SpooledTemporaryFile instead of zf.read()'s full in-memory
    copy, so an oversized inner zip spills to task-local disk rather than
    holding executor memory (Q7 divergence; ZipFile only needs a seekable
    file, which the spool provides in both its memory and disk states)."""
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        for info in zf.infolist():
            if info.is_dir():
                continue
            if info.filename.lower().endswith(".zip"):
                with tempfile.SpooledTemporaryFile(
                    max_size=INNER_SPOOL_BYTES
                ) as spool:
                    with zf.open(info) as src:
                        shutil.copyfileobj(src, spool, 1 << 20)
                    spool.seek(0)
                    with zipfile.ZipFile(spool) as izf:
                        for iinfo in izf.infolist():
                            if iinfo.is_dir() or iinfo.filename.lower().endswith(".zip"):
                                continue  # reference recurses exactly one level
                            yield (
                                f"{name}!{info.filename}!{iinfo.filename}",
                                izf.read(iinfo),
                            )
            else:
                yield f"{name}!{info.filename}", zf.read(info)


def _wire_table(columns: list, n: int, source: str) -> pa.Table:
    """Wire-schema table from one array-like per CSV_COLUMNS entry (None
    for a column the member lacks -> '' like the get closure)."""

    def const(value: str):
        return pc.fill_null(pa.nulls(n, pa.string()), value)

    arrays = [const("") if c is None else c for c in columns]
    arrays.append(const(source))
    return pa.Table.from_arrays(arrays, schema=WIRE_SCHEMA)


def _parse_csv_rows(raw: bytes, source: str) -> pa.Table | None:
    """Row-at-a-time parse with the reference's reader semantics
    (utils.go:159-191: encoding/csv with FieldsPerRecord=-1 — rows longer
    than the header are legal — and blank lines skipped): a header map
    built last-wins over duplicate names, missing column or short row ->
    '' exactly like the get closure (utils.go:185-191), extra fields
    ignored. Invalid UTF-8 decodes with U+FFFD replacement. Returns None
    for a member with no data rows."""
    reader = csv.reader(io.StringIO(raw.decode("utf-8-sig", errors="replace")))
    header = next(reader, None)
    if header is None:
        return None
    index = {name: i for i, name in enumerate(header)}
    recs = [rec for rec in reader if rec]
    if not recs:
        return None
    columns = []
    for c in CSV_COLUMNS:
        i = index.get(c)
        columns.append(
            None
            if i is None
            else pa.array(
                [rec[i] if i < len(rec) else "" for rec in recs], pa.string()
            )
        )
    return _wire_table(columns, len(recs), source)


def _member_arrow_table(csv_bytes: bytes, source: str) -> pa.Table | None:
    """Arrow-native member parse: pyarrow's multithreaded CSV reader
    straight to a wire-schema pa.Table. Members pyarrow rejects but the
    reference's reader accepts (ragged rows, invalid UTF-8), and members
    whose header repeats a name, go to the row parser (_parse_csv_rows),
    which has the reference's semantics. Returns None for a member with
    no data rows."""
    try:
        t = pa_csv.read_csv(
            io.BytesIO(csv_bytes),
            convert_options=pa_csv.ConvertOptions(
                column_types={c: pa.string() for c in CSV_COLUMNS}
            ),
            parse_options=pa_csv.ParseOptions(newlines_in_values=True),
        )
    except pa.ArrowException:
        return _parse_csv_rows(csv_bytes, source)
    names = t.column_names
    if len(set(names)) != len(names):
        return _parse_csv_rows(csv_bytes, source)  # last-wins header map
    if len(t) == 0:
        return None
    # absent cell / null -> '' exactly like the reference's get closure
    # (utils.go:185-191)
    return _wire_table(
        [pc.fill_null(t.column(c), "") if c in names else None for c in CSV_COLUMNS],
        len(t),
        source,
    )


def _members_safe(content: bytes, path: str) -> Iterator[tuple[str, bytes]]:
    """Per-archive error isolation (reference parity, main.go:183-206: a
    failed day is logged to the error channel and the run continues): a
    corrupt or truncated archive — outer or nested — is logged to the
    worker's stderr and SKIPPED instead of failing the task; members
    already extracted from it before the corruption point are kept."""
    import sys as _sys
    import zlib as _zlib

    gen = _iter_csv_members(content, path)
    while True:
        try:
            yield next(gen)
        except StopIteration:
            return
        except (zipfile.BadZipFile, _zlib.error, OSError, EOFError) as exc:
            print(
                f"dsacord extract: skipping corrupt archive {path}: {exc}",
                file=_sys.stderr,
            )
            return


def extract_zip_arrow(it):
    """mapInArrow body over binaryFile rows (path, content): walk each
    archive's members with corrupt-archive isolation and emit wire-schema
    record batches straight to the JVM — no pandas materialization."""
    for rb in it:
        paths = rb.column("path").to_pylist()
        contents = rb.column("content").to_pylist()
        for path, content in zip(paths, contents):
            for member, csv_bytes in _members_safe(bytes(content), str(path)):
                t = _member_arrow_table(csv_bytes, member)
                if t is None:
                    continue
                yield from t.to_batches()


# binaryFile's fixed schema: a file-source stream must be given it
BINARY_FILE_SCHEMA = "path string, modificationTime timestamp, length long, content binary"


def extract_staged_zips(
    reader: DataFrameReader | DataStreamReader, landing: str | list[str]
) -> DataFrame:
    """Wire rows of the dump ZIPs under `landing`, read by `spark.read`
    or by `spark.readStream.schema(BINARY_FILE_SCHEMA)`. The glob skips
    stager attempt files (`*.zip.tmp.*`) and the lake's parquet.

    Arrow-native extraction (mapInArrow): the parse tier emits pyarrow
    record batches directly, skipping the pandas object-string
    round-trip on both sides of the worker boundary (interleaved A/B at
    sf0.1/32 cores: see PLANS.md round-4 notes)."""
    binary = (
        reader.format("binaryFile")
        .option("pathGlobFilter", "*.zip")
        .option("recursiveFileLookup", "true")
        .load(landing)
        .select("path", "content")
    )
    return binary.mapInArrow(extract_zip_arrow, schema=EXTRACT_SCHEMA)


def read_staged_zips(spark: SparkSession, landing: str | list[str]) -> DataFrame:
    """binaryFile scan of the landing dir — or of an explicit staged-path
    list (what stage_range returns), so a daily run reads exactly its
    own ZIPs instead of rescanning every previously staged day (r8
    verdict; at 100 TB the landing dir holds years of dumps and a
    directory scan would re-extract all of them)."""
    return extract_staged_zips(spark.read, landing)
