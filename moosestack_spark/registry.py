"""Query/oracle registry backing __spark_entry__.py.

Each operator module registers its correctness-gate queries with::

    @query("q_name", oracle="SELECT ... ")
    def q_name(spark, sf_dir) -> DataFrame: ...

``oracle`` is the DuckDB-ANSI-SQL equivalent run side-by-side by the driver
(tables pre-registered as views).  Omit it only for genuinely
non-SQL-expressible ops (the driver then records a weaker rows-only check).

Column-name discipline: the driver sorts columns by name before hashing, so
every computed column is aliased identically in the Spark code and the SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def canon_arrays(df: DataFrame, *cols: str) -> DataFrame:
    """Serialize array-typed columns to deterministic ``[a,b,c]`` strings.

    Driver-canon contract: oracled gates must emit only scalar columns —
    the driver's canonicalizer sorts rows with pandas ``sort_values``,
    which raises on list cells.  Gates whose semantics are array-valued
    (the CH array/map dialect families, groupArray) serialize the arrays
    on both the Spark and oracle side; elements are cast to string first,
    so int/bigint/bool representations agree between engines.
    """
    from pyspark.sql import functions as F

    out = df
    for c in cols:
        out = out.withColumn(
            c,
            F.concat(
                F.lit("["),
                F.array_join(
                    F.expr(f"transform(`{c}`, v -> cast(v as string))"), ","
                ),
                F.lit("]"),
            ),
        )
    return out

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module (side effect: registration)."""
    from moosestack_spark.operators import (  # noqa: F401
        aggregates,
        aggregates_ext,
        aggregates_stats,
        analytics,
        analytics_classics,
        bucketed,
        chsql_ext,
        chsql_geo,
        chsql_vocab,
        downsample,
        engines,
        filters,
        funnel,
        joins,
        map_aggs,
        mv,
        scalar_funcs,
        semantic,
        setops,
        skew,
        sortlimit,
        stats_tests,
        streaming_ext,
        streaming_ops,
        timeseries,
        windows,
    )
    from moosestack_spark.ops import (  # noqa: F401
        avi,
        bpe,
        chunking,
        clustering,
        components,
        corpus,
        decontaminate,
        dedup,
        embedding,
        graph,
        layout,
        linedup,
        lm_score,
        mp3,
        multimodal,
        multimodal_ext,
        ogg,
        phash,
        profile,
        retrieval,
        similarity,
        sketches,
        text,
    )
