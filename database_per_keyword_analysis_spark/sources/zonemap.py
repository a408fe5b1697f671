"""Zone-map data-skipping index over a raw parquet table (round 9).

Partition pruning only skips directories; at 100 TB the next lever is
FILE skipping on clustered non-partition columns — the min/max "zone
map" every lakehouse format keeps in its commit log (Delta/Iceberg
file stats; the idea dates to Moerkotte's small materialized
aggregates, VLDB'98, and Netezza zone maps).  Raw parquet has no log,
but every file already carries the stats in its FOOTER — this module
is the log-less floor, the same posture as `operators/merge.py`'s
log-less snapshot diff:

* :func:`build_zone_map` — one distributed pass over file FOOTERS
  (kilobytes per file, never data pages): each task opens its files'
  metadata with pyarrow and folds per-row-group statistics into one
  (file, n_rows, min_c, max_c, ...) row.  Persist the result next to
  the table and maintain it incrementally (new files append one row).
* :func:`pruned_scan` — consult the zone map for a range predicate,
  read ONLY the overlapping files, and re-apply the precise filter
  (zone intervals are a SUPERSET test, exactly like
  `merge.batch_key_filter`'s bounds).  Files with absent stats are
  kept — pruning must never lose rows; the oracle equality of
  `orders_pruned_totals` (catalog.py) proves completeness, and
  tests/test_sources.py pins that fewer files are actually read.

The zone map is read, not recomputed, on every request:

* It records its table's schema: :func:`build_zone_map` stores it as
  JSON in the metadata of the `file` column, which any parquet write
  of the map persists and any read carries back.  :func:`pruned_scan`
  and :func:`zone_map_append` read the table with that schema and run
  no inference job.  A map without the metadata (written by older
  code) keeps schema inference.
* Its rows are cached on the driver when the frame passed in is a bare
  parquet scan (``spark.read.parquet(<zone map dir>)``, whose analyzed
  plan is a ``LogicalRelation``): one Arrow read per listing of the
  frame's own files, then the overlap filter runs over a local
  relation that Catalyst folds on the driver, with no job.  Any
  derived frame (a union, a ``.where``, :func:`build_zone_map`'s own
  output) is collected as it is.

Derived from the reference's month-partitioned fetch (the only
skipping it has, main.py:240-306), generalized to arbitrary clustered
columns.  The driver-side file list is partition-list-bounded (one row
per FILE, the repo's accepted bound), never data-bounded.
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Metadata key of the zone map's `file` column: the indexed table's
# schema as JSON, recorded by build_zone_map.
SCHEMA_KEY = "table_schema"

# One entry per zone-map directory read as a bare parquet scan: (the
# frame's files with their modification times, its rows as an Arrow
# table).  A frame lists its files once, when it is opened, so it keys
# and reads its own snapshot; frames opened on either side of a commit
# replace each other's entry.  No lock, as scale._MANIFESTS.
_ZONES: dict[str, tuple[tuple, object]] = {}


def _local(path: str) -> str:
    """Strip a file: URI prefix down to a filesystem path."""
    return path[len("file:"):] if path.startswith("file:") else path


def _relative_to_root(file_path: str, table_path: str) -> str:
    """`file_path` relative to the table root — nested layouts (e.g.
    Hive partition subdirectories) keep their subdir components, so
    :func:`pruned_scan` can reconstruct the exact path (r9 advice:
    basenames broke any non-flat layout).  Fail-loud on files outside
    the root rather than storing an unreconstructable ``../`` path."""
    import os

    rel = os.path.relpath(_local(file_path), _local(table_path).rstrip("/"))
    if rel.startswith(".."):
        raise ValueError(
            f"zone map: file {file_path} is not under table root {table_path}"
        )
    return rel


def _stats_schema(table_schema: T.StructType, cols: list[str]) -> T.StructType:
    by_name = {f.name: f for f in table_schema.fields}
    missing = [c for c in cols if c not in by_name]
    if missing:
        raise ValueError(f"build_zone_map: columns not in table: {missing}")
    fields = [
        T.StructField(
            "file", T.StringType(), False, {SCHEMA_KEY: table_schema.json()}
        ),
        T.StructField("n_rows", T.LongType(), False),
    ]
    for c in cols:
        fields.append(T.StructField(f"min_{c}", by_name[c].dataType, True))
        fields.append(T.StructField(f"max_{c}", by_name[c].dataType, True))
    return T.StructType(fields)


def _reader(spark: SparkSession, zone_map: DataFrame) -> DataFrameReader:
    """A parquet reader given the table schema `zone_map` recorded, or
    an inferring one when it recorded none."""
    recorded = zone_map.schema["file"].metadata.get(SCHEMA_KEY)
    if recorded is None:
        return spark.read
    return spark.read.schema(T.StructType.fromJson(json.loads(recorded)))


def _zone_rows(zone_map: DataFrame) -> DataFrame:
    """`zone_map`'s rows.  A bare parquet scan is read once per listing
    into a driver-side Arrow table and served as a local relation, whose
    filters and collects run on the driver with no job.  Any other
    frame is returned as it is."""
    plan = zone_map._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return zone_map
    rel = plan.relation()
    files = sorted(zone_map.inputFiles())
    if rel.getClass().getSimpleName() != "HadoopFsRelation" or not files:
        return zone_map
    spark = zone_map.sparkSession
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs = Path(files[0]).getFileSystem(spark._jsc.hadoopConfiguration())
    listing = tuple(
        (f, fs.getFileStatus(Path(f)).getModificationTime()) for f in files
    )
    root = rel.location().rootPaths().mkString(",")
    hit = _ZONES.get(root)
    if hit is None or hit[0] != listing:
        hit = listing, zone_map.toArrow()
        _ZONES[root] = hit
    return spark.createDataFrame(hit[1], zone_map.schema)


def build_zone_map(
    spark: SparkSession,
    table_path: str,
    cols: list[str],
    only_files: list[str] | None = None,
) -> DataFrame:
    """(file, n_rows, min/max per requested column) from parquet
    FOOTERS only — a metadata-scale job however large the data pages
    are.  One input partition per file; pyarrow reads each footer
    executor-side inside an Arrow `mapInPandas` (no data pages, no
    row-at-a-time Python).  A column whose statistics are absent in
    any row group yields NULL bounds (= never pruned).  `only_files`
    restricts the build to a file subset (absolute paths — the
    incremental-maintenance path, see :func:`zone_map_append`).

    The `file` column's metadata records the table's schema as JSON
    (key :data:`SCHEMA_KEY`), so writing the result and reading it
    back with ``spark.read.parquet`` lets :func:`pruned_scan` read the
    table without inferring its schema again.  The schema is the one
    this build inferred: Hive partition columns included, in Spark's
    inferred order and nullability."""
    probe = spark.read.parquet(table_path)
    schema = _stats_schema(probe.schema, cols)
    files = only_files if only_files is not None else probe.inputFiles()
    if not files:
        return spark.createDataFrame([], schema)
    # `file` is stored RELATIVE to the table root (what lakehouse logs
    # do): the index survives the table moving/being staged-and-renamed
    paths = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(min(len(files), 64), "file")

    def footer_stats(batches: Iterator) -> Iterator:
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out: list[dict] = []
            for path in pdf["file"]:
                local = path[len("file:"):] if path.startswith("file:") else path
                md = pq.ParquetFile(local).metadata
                names = md.schema.to_arrow_schema().names
                idx = {c: names.index(c) for c in cols}
                row: dict = {
                    "file": _relative_to_root(local, table_path),
                    "n_rows": md.num_rows,
                }
                for c in cols:
                    lo = hi = None
                    ok = True
                    for g in range(md.num_row_groups):
                        st = md.row_group(g).column(idx[c]).statistics
                        if st is None or not st.has_min_max:
                            ok = False
                            break
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                    row[f"min_{c}"] = lo if ok else None
                    row[f"max_{c}"] = hi if ok else None
                out.append(row)
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    return paths.mapInPandas(footer_stats, schema)


def zone_map_append(
    spark: SparkSession,
    table_path: str,
    zone_map: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Incrementally maintain a persisted zone map: footer-scan ONLY
    the files the index does not know yet (an ingest batch appended
    new files; everything already indexed is never re-read — the
    mv_delta_merge posture applied to metadata) and union them in.
    Idempotent: re-running after no new files returns the index
    unchanged.  Cost: one file listing + footers of the NEW files.

    INSERT-ONLY contract, enforced (r9 advice): a file the index knows
    that is no longer in the table (compaction, overwrite-in-place)
    means appends cannot heal the map — later pruned scans would
    reconstruct dead paths — so this raises and the caller rebuilds
    with :func:`build_zone_map`.  Over a bare scan of a persisted map
    with a recorded schema, a warm append that finds nothing new runs
    no Spark job (see :func:`pruned_scan`)."""
    known = {r["file"] for r in _zone_rows(zone_map).select("file").collect()}
    current = {
        _relative_to_root(f, table_path)
        for f in _reader(spark, zone_map).parquet(table_path).inputFiles()
    }
    gone = sorted(known - current)
    if gone:
        raise ValueError(
            "zone_map_append: indexed files no longer exist in the table "
            f"(compaction/rewrite?) — rebuild with build_zone_map: {gone[:5]}"
            + ("..." if len(gone) > 5 else "")
        )
    root = _local(table_path).rstrip("/")
    fresh = [f"{root}/{rel}" for rel in sorted(current - known)]
    if not fresh:
        return zone_map
    return zone_map.unionByName(
        build_zone_map(spark, table_path, cols, only_files=fresh)
    )


def pruned_scan(
    spark: SparkSession,
    table_path: str,
    zone_map: DataFrame,
    col: str | None = None,
    lo=None,
    hi=None,
    preds: dict | None = None,
) -> DataFrame:
    """Read only the files whose [min, max] zones overlap EVERY band
    predicate (keeping NULL-stat files — the superset rule), then
    re-apply the precise BETWEENs so results equal the full scan's
    exactly.  Pass a single band as (col, lo, hi) or several as
    `preds={col: (lo, hi), ...}` — multi-column pruning is what a
    Z-ORDERED layout is for (:func:`zorder_key`): interleaved
    clustering gives every indexed column locality, so each extra
    band multiplies the files skipped.  The file-list collect is one
    row per surviving file.

    It runs no job of its own when `zone_map` is a bare parquet scan of
    a map :func:`build_zone_map` wrote (``spark.read.parquet(dir)``):
    the zone rows come from a driver-side cache keyed on the frame's
    files and their modification times (one Arrow read per listing),
    and the surviving files are read with the recorded table schema.
    A derived frame (a union, a ``.where``) has its file list collected
    by one job; a map without a recorded schema infers the schema with
    one more.  Rows and schema are the same on every path."""
    if preds is None:
        preds = {col: (lo, hi)}
    keep = _zone_rows(zone_map)
    cond = None
    for c, (clo, chi) in preds.items():
        overlap = F.col(f"min_{c}").isNull() | (
            (F.col(f"min_{c}") <= F.lit(chi)) & (F.col(f"max_{c}") >= F.lit(clo))
        )
        keep = keep.where(overlap)
        band = F.col(c).between(clo, chi)
        cond = band if cond is None else cond & band
    names = [r["file"] for r in keep.select("file").collect()]
    root = table_path.rstrip("/")
    # `file` values are root-relative (nested layouts keep subdirs);
    # basePath keeps Hive partition-directory columns visible when the
    # surviving files live under partition subdirectories.
    reader = _reader(spark, zone_map).option("basePath", root)
    if not names:
        return reader.parquet(root).where(F.lit(False))
    return reader.parquet(*[f"{root}/{n}" for n in names]).where(cond)


def zorder_key(a, b, bits: int = 16):
    """Morton/Z-order key over two pre-binned integer columns: the
    bits of `a` and `b` (each already in [0, 2^bits)) interleaved —
    a 1-D sort order in which BOTH dimensions cluster, so a zone map
    over a z-ordered table prunes on either column or both (the
    Delta/Iceberg OPTIMIZE ZORDER idea; Morton 1966).  Pure integer
    shift/or expressions, whole-stage-codegen-friendly.

    Callers bin values to ranks first (e.g. `F.ntile` or a min/max
    affine scale cast to int) — binning choice only affects pruning
    QUALITY, never results, since `pruned_scan` re-applies precise
    predicates.

    Delegates to the single Morton kernel
    (`operators/scale.morton_interleave`, r9 verdict item 6); the
    column order `[b, a]` preserves this wrapper's historical bit
    layout exactly (`a` on odd positions, `b` on even) so existing
    layouts/tests stay bit-identical."""
    from ..operators.scale import morton_interleave

    return morton_interleave([b, a], bits)


def min_max_bin(c, lo_val: float, hi_val: float, bits: int = 16):
    """Affine bin of a numeric column into [0, 2^bits) given its
    domain — the simple deterministic binning for :func:`zorder_key`
    (one min/max aggregate upstream supplies lo/hi)."""
    n = float(2**bits - 1)
    span = max(hi_val - lo_val, 1e-300)
    scaled = (c.cast("double") - F.lit(float(lo_val))) / F.lit(span) * F.lit(n)
    return F.least(
        F.lit(2**bits - 1),
        F.greatest(F.lit(0), F.round(scaled, 0).cast("long")),
    )
