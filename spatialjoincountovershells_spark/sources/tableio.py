"""Table I/O with Iceberg-first semantics and a parquet stand-in.

The BASELINE north_rule asks for Iceberg tables (checkpointed
per-partition lineage, resumable restarts).  This container ships no
iceberg-spark-runtime jar and has no network to fetch one, so the
Iceberg path cannot execute here — that waiver is documented in README
and BENCH/BASELINE.md.  What this module guarantees instead:

* `iceberg_available(spark)` probes the session JVM for Iceberg's
  SparkCatalog class (the class the runtime jar provides);
* `write_table` / `read_table` route through DataFrameWriterV2
  (`df.writeTo(ident).using("iceberg")` / `spark.table(ident)`) when
  the runtime is present, and degrade to parquet directories at the
  same `location` string otherwise.

Swap-in on a real cluster is configuration, not code:

    spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
    spark.sql.catalog.sjcs=org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.sjcs.type=hadoop
    spark.sql.catalog.sjcs.warehouse=<path>

after which every pipeline location like "sjcs.db.particles" resolves
through Iceberg with snapshot isolation, and the parquet stand-in's
_SJCS_DONE marker is subsumed by Iceberg's own snapshot commit.
"""

from __future__ import annotations

import weakref
from collections.abc import Iterable
from typing import NamedTuple
from urllib.parse import unquote, urlparse

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# SparkContext -> probe result.  The JVM classpath is fixed when the
# context starts, and a missing class costs a ClassNotFoundException
# thrown through py4j (about 25 ms) on every probe; weak keys let a
# stopped context's entry go with it.
_ICEBERG: weakref.WeakKeyDictionary[SparkContext, bool] = (
    weakref.WeakKeyDictionary())


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the session's JVM
    classpath; probed once per SparkContext."""
    sc = spark.sparkContext
    if sc not in _ICEBERG:
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.SparkCatalog")
            _ICEBERG[sc] = True
        except Py4JJavaError:  # ClassNotFoundException
            _ICEBERG[sc] = False
    return _ICEBERG[sc]


def resolve_format(spark: SparkSession, fmt: str | None = None) -> str:
    if fmt in ("iceberg", "parquet"):
        return fmt
    return "iceberg" if iceberg_available(spark) else "parquet"


def write_table(
    df: DataFrame, location: str, mode: str = "overwrite", fmt: str | None = None
) -> str:
    """Write df to `location` (catalog identifier under Iceberg, directory
    path under the parquet stand-in).  Returns the format used."""
    fmt = resolve_format(df.sparkSession, fmt)
    if fmt == "iceberg":
        w = df.writeTo(location).using("iceberg")
        if mode == "overwrite":
            w.createOrReplace()
        else:
            w.append()
    else:
        df.write.mode(mode).parquet(location)
    return fmt


def read_table(
    spark: SparkSession,
    location: str,
    fmt: str | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Read `location` back.  `schema` (parquet stand-in only) skips
    the one-task footer-inference job when the caller knows what it
    wrote; Iceberg tables carry their own schema."""
    fmt = resolve_format(spark, fmt)
    if fmt == "iceberg":
        return spark.table(location)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(location)


def parquet_footers(paths: Iterable[str]) -> list[tuple[int, int]]:
    """(rows, non-empty row groups) of each local parquet file, read
    from its footer by pyarrow on the driver: a few KB per file and no
    Spark job."""
    import pyarrow.parquet as pq

    mds = [pq.read_metadata(p) for p in paths]
    return [(md.num_rows, sum(md.row_group(i).num_rows > 0
                              for i in range(md.num_row_groups)))
            for md in mds]


class Footprint(NamedTuple):
    """What a side's metadata says about its size.

    rows: its row count, an upper bound on it when not `exact`, or None
    when a node may change it (a Python map).  pieces: how many pieces
    of its scan hold rows (parquet row groups, Range slices, in-memory
    rows), which bounds the tasks that read any."""

    rows: int | None
    exact: bool
    pieces: int


# optimized-plan nodes `footprint` reads through, each of which maps
# one input piece to one output piece, and what each does to the rows
_THROUGH = {
    "Project": "keeps", "BatchEvalPython": "keeps",
    "ArrowEvalPython": "keeps", "Filter": "bounds",
    "MapInPandas": "changes", "MapInArrow": "changes",
}


def footprint(df: DataFrame) -> Footprint | None:
    """`df`'s size from metadata: the one place an input is sized.

    Answers when the optimized plan is a chain of ``_THROUGH`` nodes
    over one leaf it can read without a Spark job or a physical plan
    (reading the optimized plan starts neither):

    * a parquet scan of local files: rows and non-empty row groups from
      the footers (Spark splits files into byte ranges, and a range
      holds rows only if a row group's midpoint falls in it, so a
      one-row-group file is one non-empty task however it is split);
    * a ``Range``: its elements, in its slices;
    * an in-memory ``LocalRelation``: its rows, each a piece.

    Any other plan (a shuffle, a join, a limit, an RDD, a non-parquet
    or non-local source) -> None."""
    rows_known, exact = True, True
    node = df._jdf.queryExecution().optimizedPlan()
    while (kind := node.getClass().getSimpleName()) in _THROUGH:
        exact &= _THROUGH[kind] != "bounds"
        rows_known &= _THROUGH[kind] != "changes"
        node = node.children().apply(0)
    if kind == "Range":
        rows = int(node.numElements())
        sl = node.numSlices()
        pieces = min(rows, sl.get() if sl.isDefined()
                     else df.sparkSession.sparkContext.defaultParallelism)
    elif kind == "LocalRelation":
        rows = pieces = node.data().size()
    elif kind == "LogicalRelation":
        rel = node.relation()
        if (rel.getClass().getSimpleName() != "HadoopFsRelation"
                or rel.fileFormat().getClass().getSimpleName()
                != "ParquetFileFormat"):
            return None
        uris = [urlparse(u) for u in df.inputFiles()]
        if any(u.scheme not in ("", "file") for u in uris):
            return None
        footers = parquet_footers(unquote(u.path) for u in uris)
        rows = sum(r for r, _ in footers)
        pieces = sum(g for _, g in footers)
    else:
        return None
    return Footprint(rows if rows_known else None, exact, pieces)


def count_rows(df: DataFrame, exact: bool = True) -> int:
    """``df.count()``, from ``footprint`` without a Spark job when the
    metadata answers.

    It answers when the optimized plan is Projects and Python UDF
    evaluations (with ``exact=False``, Filters too) over a local
    parquet scan, a ``Range`` or an in-memory relation: no such node
    can add rows, so the leaf's rows are the count, or with a Filter
    an upper bound on it.  Exact counts feed estimator denominators,
    so ``exact=True`` takes no Filter.  Any other plan (an explode, a
    join, a limit, a Python map, an RDD or a non-parquet source) runs
    ``count()``."""
    fp = footprint(df)
    if fp is not None and fp.rows is not None and (fp.exact or not exact):
        return fp.rows
    return df.count()


def count_rows_past(df: DataFrame, limit: int) -> tuple[int, bool]:
    """-> (n, exact) for a guard that only asks whether `df` holds more
    than `limit` rows: ``count_rows``'s exact metadata count when it
    answers, else a bounded ``df.limit(limit + 1).count()``, never a
    full scan.  Past `limit` that count stops at limit + 1, and `exact`
    is then False."""
    fp = footprint(df)
    if fp is not None and fp.rows is not None and fp.exact:
        return fp.rows, True
    n = df.limit(limit + 1).count()
    return n, n <= limit
