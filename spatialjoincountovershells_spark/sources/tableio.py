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


def parquet_footer_rows(paths: Iterable[str]) -> list[int]:
    """Row count of each local parquet file, read from its footer by
    pyarrow on the driver: a few KB per file and no Spark job."""
    import pyarrow.parquet as pq

    return [pq.read_metadata(p).num_rows for p in paths]


def plan_nodes(df: DataFrame):
    """-> (class simple name, JVM node) for every node of `df`'s
    optimized logical plan; reading it starts no Spark job."""
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        yield node.getClass().getSimpleName(), node
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))


def count_rows(df: DataFrame, exact: bool = True) -> int:
    """``df.count()``, from parquet footers without a Spark job when
    the optimized plan allows it.

    Footers answer when every node of the optimized plan is a Project
    (or, with ``exact=False``, a Filter) over parquet file relations on
    local files: no such node can add rows, so the footers' total is
    the count, or with a Filter an upper bound on it.  Exact counts
    feed estimator denominators, so ``exact=True`` takes no Filter.
    Any other node (an explode, a join, a limit, an in-memory or
    non-parquet source) or a non-local file runs ``count()``."""
    keep = ("Project",) if exact else ("Project", "Filter")
    for kind, node in plan_nodes(df):
        if kind == "LogicalRelation":
            rel = node.relation()
            if (rel.getClass().getSimpleName() != "HadoopFsRelation"
                    or rel.fileFormat().getClass().getSimpleName()
                    != "ParquetFileFormat"):
                return df.count()
        elif kind not in keep:
            return df.count()
    paths = []
    for uri in df.inputFiles():
        u = urlparse(uri)
        if u.scheme not in ("", "file"):
            return df.count()
        paths.append(unquote(u.path))
    return sum(parquet_footer_rows(paths))
