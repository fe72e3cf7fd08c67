"""The one module that knows how an index directory is committed and read.

A table is a parquet directory plus `_schema.json`, written LAST: the
schema the table reads back with (every field nullable, then the
directory columns) and a format tag. The sidecar is the table's commit
marker: a table without one was killed mid-write or predates the
store, and does not read. Reads use the recorded schema, so none infers
a schema, and a read of named `col=value` parts lists only those
directories on the driver. Metadata JSON is written to a temporary file
and renamed over the old one, so a crash never leaves a truncated file.
Every sidecar name starts with `_`, so Spark's file listing skips it.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

# recorded in every _schema.json: a table of another format does not read
FORMAT = 1
SCHEMA_FILE = "_schema.json"
_REQUIRED = object()


def write_json(path: str, obj) -> None:
    """Atomically replace path with obj as JSON. The temporary file is
    unique per writer, so concurrent commits of one table never share it."""
    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix="_", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise


def read_json(path: str, default=_REQUIRED):
    """The JSON at path; default if the file is missing and a default
    is given (a missing file raises otherwise)."""
    if default is not _REQUIRED and not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


def rows(path: str) -> int:
    """Rows under a parquet directory, summed from the file footers in
    this process (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def committed(root: str) -> bool:
    return os.path.exists(os.path.join(root, SCHEMA_FILE))


def _nullable(dt):
    """dt with every field, element and value nullable, as a file read reports it."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def write_table(df, root: str, partition_by=(), part=None, mode: str = "overwrite") -> int:
    """Write df as the table at root, then commit it by writing
    root/_schema.json. Returns the rows now under the written directory,
    from the parquet footers.

    part: (col, value) of the static `col=value` directory this write
    fills; the column reads back as int for an int value, else as string.
    A write that leaves other data in place (a part, or mode="append")
    must match the recorded schema, or it raises."""
    from pyspark.sql import types as T

    cols = list(partition_by)
    dirs = [df.schema[c] for c in cols]
    if part is not None:
        kind = T.IntegerType() if isinstance(part[1], int) else T.StringType()
        dirs.insert(0, T.StructField(part[0], kind))
    schema = _nullable(T.StructType([f for f in df.schema if f.name not in cols] + dirs))
    record = {"format": FORMAT, "schema": schema.jsonValue()}
    marker = os.path.join(root, SCHEMA_FILE)
    if part is not None or mode == "append":
        old = read_json(marker, None)
        if old not in (None, record):
            raise ValueError(
                f"{root} records {old}, this write would record {record}; rewrite the whole table"
            )
    elif os.path.exists(marker):
        os.remove(marker)  # uncommit first: a killed overwrite leaves no readable table
    writer = df.write.mode(mode).partitionBy(*cols) if cols else df.write.mode(mode)
    out = root if part is None else os.path.join(root, f"{part[0]}={part[1]}")
    writer.parquet(out)
    write_json(marker, record)
    return rows(out)


def read_table(spark, root: str, parts=None):
    """The committed table at root, read with its recorded schema (no
    Spark job). parts: (col, value) pairs — read only those `col=value`
    directories that exist, under basePath; an empty frame of the
    schema if none exists."""
    from pyspark.sql import types as T

    record = read_json(os.path.join(root, SCHEMA_FILE), None)
    if record is None or record.get("format") != FORMAT:
        raise ValueError(
            f"{root} has no committed table of store format {FORMAT} (no {SCHEMA_FILE}: "
            "a killed write, or an index written before the store); rebuild the index"
        )
    schema = T.StructType.fromJson(record["schema"])
    if parts is None:
        return spark.read.schema(schema).parquet(root)
    paths = [p for p in (os.path.join(root, f"{c}={v}") for c, v in parts) if os.path.isdir(p)]
    if not paths:
        from .layout import local_rows

        return local_rows(spark, [], schema)
    return spark.read.schema(schema).option("basePath", root).parquet(*paths)


def swap_dir(stage: str, live: str) -> None:
    """Put the directory staged at `stage` in place of `live`: rename
    live away, rename stage in, drop the old copy. A crash before the
    first rename leaves live untouched; one between the renames leaves
    the old copy at `<live>.old` and the new one at `stage`."""
    old = live.rstrip("/") + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(live):
        os.replace(live, old)
    os.replace(stage, live)
    shutil.rmtree(old, ignore_errors=True)
