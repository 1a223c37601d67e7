"""Parquet table sources (TESTDATA.md / FIXTURES.md schemas).

The reference read point vectors from text files on a local FS / HDFS
(SURVEY.md §1.1); this engine reads columnar parquet so Catalyst gets
predicate pushdown + column pruning for free, and at 100 TB the same reader
handles partitioned layouts and object storage without code changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. ``sf_dir`` is e.g. /root/testdata/sf0.01.

    ``events.ts`` has shipped in two physical encodings across testdata
    generations: TIMESTAMP(NANOS) (which Spark's reader rejects unless
    read as raw nanos via the legacy conf) and plain TIMESTAMP(US).  The
    loader normalizes either to TIMESTAMP_NTZ at microsecond precision —
    lossless for this data (verified: no sub-microsecond components) and
    timezone-independent (NTZ arithmetic, no session-zone dependence).
    The DuckDB oracle casts ts to TIMESTAMP (us) to match (FIXTURES.md
    fact 7).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = raw.schema["ts"].dataType.typeName()
        if ts_type in ("long", "bigint"):  # nanos-as-long generation
            return raw.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() can see them."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def widen_scan(
    df: DataFrame, n_rows: int, rows_per_task: int, *keys: str
) -> DataFrame:
    """Hash-repartition an under-split relation to a problem-derived
    width (guide §2.5 input parallelism): oracle-SF tables arrive as ONE
    parquet file, so every downstream map stage — broadcast-join probes,
    partial aggregations, per-row hashing — inherits a single partition
    and runs one-threaded at any core count, and AQE only ever coalesces
    tiny shuffles back DOWN.  Width = n_rows / rows_per_task, capped at
    defaultParallelism.  The repartition only ever WIDENS: a multi-file
    production input whose scan already splits at least that wide is
    returned untouched, so no exchange is added at scale.  ``keys`` must
    be deterministic columns (hash partitioning, never round-robin —
    guide §2.5: retried tasks must reproduce the same row placement)."""
    width = max(
        1,
        min(
            df.sparkSession.sparkContext.defaultParallelism,
            int(n_rows) // int(rows_per_task),
        ),
    )
    if width > 1 and width > df.rdd.getNumPartitions():
        return df.repartition(width, *keys)
    return df


# Gate for the duplicate-subtree cuts below: SOURCE row count above
# which the cut is skipped.  At 2M source docs the materialized
# intermediate (the exploded token/shingle relation is ~50× its input,
# ~50 B/row) is ~5 GB of executor storage — still comfortable; past it
# the materialization cost and the executor-loss exposure outweigh
# recomputing a scan+explode subtree Catalyst plans 2-3×.
DUP_CUT_MAX_SRC_ROWS = 2_000_000


def dup_cut(df: DataFrame, src_rows: int | None) -> DataFrame:
    """Materialize a relation that feeds SEVERAL plan subtrees (self-join
    sides + a size/set dimension): Catalyst plans DataFrame DAG reuse as
    N full tree copies, so without the cut the underlying explode/agg
    subtree executes N times (r15 plan audits, guide §2.4).

    The mechanism is ``localCheckpoint`` — lineage is truncated and the
    blocks live NON-REPLICATED on executors, so on a real cluster a lost
    executor FAILS the query instead of recomputing it (guide §5).  That
    trade is free at oracle SFs (local mode, no executor to lose) and
    wrong for an intermediate bigger than the recompute, so the cut is
    SIZE-GATED (r16, verdict r15 #5): above ``DUP_CUT_MAX_SRC_ROWS``
    source rows the relation is returned uncut and each consumer
    recomputes its copy — scan+explode subtrees with no exchange, the
    safe default at 100 TB.  ``src_rows=None`` (source size unknown
    driver-side) keeps the cut — every such caller is a small-by-
    construction relation (test harness overrides, the incremental
    batch split)."""
    if src_rows is None or src_rows <= DUP_CUT_MAX_SRC_ROWS:
        return df.localCheckpoint(eager=False)
    return df


def parquet_data_files(path: str) -> list[str]:
    """The parquet files Spark reads for ``path``, sorted: the path itself
    unless it is a directory, else every ``*.parquet`` below it except
    under a path segment Spark treats as hidden — a ``.`` prefix, or a
    ``_`` prefix without ``=`` (``_temporary/`` attempt dirs of an
    uncommitted write, ``_SUCCESS``-style markers; ``_k=v`` partition dirs
    stay)."""

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    if not os.path.isdir(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not hidden(d)]
        out += [
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not hidden(f)
        ]
    return sorted(out)


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count from the parquet FOOTER metadata — the same number
    a metadata-only ``df.count()`` returns, without a Spark job (r15,
    guide §5: row-count gates are driver-side planning decisions; a
    footer read is microseconds vs a ~0.2-0.4 s count job, and several
    operators gate on it per query)."""
    import pyarrow.parquet as pq

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in parquet_data_files(f"{sf_dir}/{name}.parquet")
    )
