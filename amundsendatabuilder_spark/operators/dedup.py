"""Last-writer-wins dedup — one surviving row per entity key.

The north-rule ordering: winner per ``(repo, path)`` is the max of
``(event_ts, commit)``. Required before every MERGE (multi-match is illegal,
same as Iceberg). The reference has no window functions; its closest analogue
is the first-writer-wins in-job dedup sets
(``databuilder/models/table_metadata.py:232-234``) — here it is a proper
window-ranked reduction.

Two physical strategies, same semantics:

* ``lww_dedup`` — ``row_number() OVER (PARTITION BY keys ORDER BY ord DESC)``.
  One hash-partition shuffle on the keys. Fine when no key is pathologically
  hot *within a batch* (keys are unique-ish after grouping).
* ``lww_dedup_agg`` — ``groupBy(keys).agg(max_by)`` via a single ``max`` of an
  ordering struct. **Partial aggregation (map-side combine) makes this the
  scale path**: a mega-entity with millions of duplicate events in one batch
  collapses to one row per map task before the shuffle, so the hot key ships
  O(num_partitions) rows instead of O(events). This is the built-in,
  shuffle-minimal form of "salting + two-phase reduce" — Spark's partial agg
  IS the salted local phase. Used by default in the pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from amundsendatabuilder_spark.functions.sqltext import sql_ident


def lww_dedup(
    df: DataFrame,
    key_cols: list[str] = ("repo", "path"),
    order_cols: list[str] = ("event_ts", "commit"),
) -> DataFrame:
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def lww_dedup_agg(
    df: DataFrame,
    key_cols: list[str] = ("repo", "path"),
    order_cols: list[str] = ("event_ts", "commit"),
) -> DataFrame:
    """Same result as :func:`lww_dedup`; hash-agg with map-side combine."""
    keys = list(key_cols)
    payload = [c for c in df.columns if c not in keys]
    ordered = [c for c in order_cols] + [c for c in payload if c not in order_cols]
    winner = F.expr(f"max(struct({', '.join(map(sql_ident, ordered))})) AS __w")
    return (
        df.groupBy(*keys)
        .agg(winner)
        .selectExpr(*map(sql_ident, keys),
                    *[f"__w.{sql_ident(c)} AS {sql_ident(c)}" for c in payload])
    )
