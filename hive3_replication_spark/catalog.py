"""Table catalog: schema-normalized access to the engine's tables.

The reference delegates schema ownership to the Hive metastore and is itself
schema-agnostic (SURVEY.md §1.2). Here the catalog is a thin layer over
parquet directories: one table per file/dir, explicit normalization at the
ingest edge only (ns-timestamp → microsecond TimestampType), everything else
flows through Catalyst untouched so predicate pushdown / column pruning hit
the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import memo
from .session import ensure_engine_confs

#: Tables provided by the test fixtures (TESTDATA.md / FIXTURES.md).
TABLES = (
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

#: Columns stored as parquet TIMESTAMP(NANOS); Spark reads them as long
#: (nanosAsLong) and we convert to microsecond TimestampType here, matching
#: DuckDB's CAST(ts_ns AS TIMESTAMP) truncation semantics exactly.
_NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
}


def table_path(sf_dir: str, name: str) -> str:
    """Where table ``name`` of the dataset at ``sf_dir`` lives."""
    return f"{sf_dir}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with normalized schema.

    Normalization happens at the ingest edge only: downstream operators see
    proper TimestampType and can rely on Catalyst pushing filters into the
    parquet scan (the ns->us conversion is a projection, so pruning of other
    columns still reaches the reader).

    The inferred schema and the lazy plan are memoized per table identity
    (``memo``): inference launches a footer-read job (~170 ms) and the
    plan costs two eagerly analyzed Dataset creations (~15-30 ms), while
    operators load 2-7 tables per call. Both are metadata only — every
    action still reads the parquet inputs.
    """
    from pyspark.sql.types import LongType

    ensure_engine_confs(spark)
    path = table_path(sf_dir, name)

    def build_df() -> DataFrame:
        schema = memo.get(
            "schema", lambda: spark.read.parquet(path).schema,
            inputs=[path], scope=path,
        )
        df = spark.read.schema(schema).parquet(path)
        for col in _NANOS_TS_COLUMNS.get(name, ()):
            field = next((f for f in schema.fields if f.name == col), None)
            if field is not None and isinstance(field.dataType, LongType):
                # integer DIV, not `/`: ns-since-epoch (~1.7e18) exceeds
                # double's 2^53 integer range, so float division would
                # round the microsecond
                df = df.withColumn(
                    col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000"))
                )
        return df

    # the value keeps its session alive, so the session id cannot alias
    return memo.get(
        "table", build_df, inputs=[path], scope=path, params=(id(spark),)
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table (lazy plans; nothing is materialized)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


#: DuckDB twin of ``load_embeddings`` — an UNALIASED subquery, so the
#: registry's mechanical ``embeddings`` → ``(subquery)`` relation
#: substitution stays valid whether or not the original reference
#: carried its own alias (``FROM embeddings e`` / ``JOIN embeddings ce``
#: / bare ``FROM embeddings``).
EMB_CLEAN_SUBQUERY = (
    "(SELECT * FROM embeddings"
    " WHERE embedding IS NOT NULL AND len(embedding) > 0"
    " AND (list_max(embedding) <> 0 OR list_min(embedding) <> 0))"
)


def embedding_dim(spark: SparkSession, sf_dir: str) -> int:
    """Dimensionality of the embeddings relation (length of the first
    clean vector), memoized per table identity. Consumers build
    per-dimension expression lists from this, so it must be a driver-side
    int; the memo makes it one probe job per dataset per process instead
    of one per operator invocation. Rows never enter the memo; the width
    is structural metadata parquet cannot carry for list columns, and
    probing it costs one Spark job (~120 ms)."""
    path = table_path(sf_dir, "embeddings")
    return memo.get(
        "embedding_dim",
        lambda: len(
            load_embeddings(spark, sf_dir).select("embedding").first()[0]
        ),
        inputs=[path],
        scope=path,
    )


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings relation every vector operator consumes: NULL,
    empty, and all-zero vectors are excluded at the source (one narrow
    pushed-down filter on the scan). A zero-norm embedding has no cosine
    direction — every normalized similarity would ANSI-fault on the 0
    divisor — and real 100 TB corpora DO contain such rows (failed or
    padded encoder outputs), so the policy is pinned HERE once rather
    than per-op (hostile-row fuzz wave 2, round 12: 12 vector keys
    faulted on one planted zero vector). The zero-norm test is exact
    and lambda-free — all-zero ⇔ array_max = 0 ∧ array_min = 0 — using
    plain collection expressions instead of a higher-order ``exists()``
    so the predicate stays inside whole-stage codegen on every rescan
    of the relation (kmeans re-evaluates this subtree per unrolled
    iteration); identical in the SQL twin ``EMB_CLEAN_SUBQUERY``.

    The cleaned plan is memoized like ``load_table``'s (lazy plan-object
    reuse, metadata only): eight vector operators re-derived the identical
    filter per invocation."""
    path = table_path(sf_dir, "embeddings")

    def build() -> DataFrame:
        zero = F.lit(0.0).cast("float")
        return load_table(spark, sf_dir, "embeddings").where(
            F.col("embedding").isNotNull()
            & (F.size("embedding") > 0)
            & (
                (F.array_max("embedding") != zero)
                | (F.array_min("embedding") != zero)
            )
        )

    return memo.get(
        "embeddings_clean", build, inputs=[path], scope=path,
        params=(id(spark),),
    )
