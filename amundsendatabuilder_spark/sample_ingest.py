"""The composed end-to-end fixture example — the engine's analog of the
reference's canonical ``example/scripts/sample_data_loader.py:299-365``,
which replays the 21-CSV ``example/sample_data/`` fixture family through
every entity path (table+column metadata, badges, stats, programmatic
descriptions, watermarks, owners, column usage, users, applications,
sources, tags, last-updated, schema descriptions, the six dashboard
families, the dashboard↔table links, the ES-updated sentinel) into the
graph, then builds the three Elasticsearch document families.

The reference runs one DefaultJob per CSV (21 sequential
extract→transform→load→publish jobs); here each CSV becomes one
DataFrame expansion and ALL of them commit as a single idempotent
graph epoch (channel ``fixture``) — one Spark job instead of 21, with
the per-family row counts reported for parity checks.  Entry points:

* :func:`fixture_graph` — (nodes, relations) for the whole family;
* :func:`fixture_docs` — the three ES document frames from a graph;
* :func:`ingest_fixture_dir` — commit to a :class:`CDCPipeline`'s lake
  tables and export canonical ES JSON (CLI: ``job.py --ingest-csv DIR``).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amundsendatabuilder_spark.operators import amundsen_models as am
from amundsendatabuilder_spark.operators import dashboard_models as dm
from amundsendatabuilder_spark.sources.csv_sources import read_csv


def _csv(spark: SparkSession, data_dir: str, name: str) -> DataFrame | None:
    path = os.path.join(data_dir, name)
    if not os.path.exists(path):
        return None
    return read_csv(spark, path)


def _dash(df: DataFrame) -> DataFrame:
    """Rename the CSV's dashboard_group_id to the operators' group_id."""
    out = df
    for old, new in (
        ("dashboard_group_id", "group_id"),
        ("dashboard_group", "group_name"),
        ("dashboard_group_url", "group_url"),
        ("dashboard_group_description", "group_description"),
        ("execution_timestamp", "timestamp"),
        ("execution_state", "state"),
    ):
        if old in out.columns:
            out = out.withColumnRenamed(old, new)
    return out


def fixture_graph(
    spark: SparkSession, data_dir: str, es_updated_ts: int = 0,
) -> tuple[DataFrame, DataFrame, dict[str, int]]:
    """Expand every fixture CSV present in ``data_dir`` into graph rows.
    Returns (nodes, relations, per-family counts).  Missing files are
    skipped, so the function also works on fixture subsets."""
    nodes: list[DataFrame] = []
    rels: list[DataFrame] = []
    counts: dict[str, int] = {}

    def add(family: str, n: DataFrame | None, r: DataFrame | None) -> None:
        # __fam = the reference script's job order; the cross-family merge
        # below resolves duplicate keys per-attribute with later-job-wins,
        # the set-based form of 21 sequential MERGE ... ON MATCH SET jobs
        fam = len(counts)
        if n is not None:
            nodes.append(n.withColumn("__fam", F.lit(fam)))
        if r is not None:
            rels.append(r.withColumn("__fam", F.lit(fam)))
        counts[family] = (n.count() if n is not None else 0) + (
            r.count() if r is not None else 0
        )

    # -- table + column metadata (run_table_column_job) --------------------
    tables = _csv(spark, data_dir, "sample_table.csv")
    cols = _csv(spark, data_dir, "sample_col.csv")
    if tables is not None:
        add("table_metadata",
            am.table_metadata_nodes(tables, cols),
            am.table_metadata_relations(tables, cols))
    # column-level badges ride on sample_col.csv's `badges` column
    # (ColumnMetadata badges, Badge(name, 'column') — table_metadata.py:186)
    if cols is not None and "badges" in cols.columns:
        cb = (
            cols.where(F.col("badges").isNotNull() & (F.length("badges") > 0))
            .select("database", "cluster", "schema", "table_name",
                    F.col("name").alias("column_name"),
                    F.explode(F.split("badges", ",")).alias("badge"))
            .select("database", "cluster", "schema", "table_name",
                    "column_name", F.trim("badge").alias("name"),
                    F.lit("column").alias("category"))
        )
        add("column_badges", am.badge_nodes(cb),
            am.badge_relations(cb, start_label="Column"))

    # -- table badges (run_table_badge_job) ---------------------------------
    badges = _csv(spark, data_dir, "sample_badges.csv")
    if badges is not None:
        add("table_badges", am.badge_nodes(badges),
            am.badge_relations(badges, start_label="Table"))

    # -- column stats --------------------------------------------------------
    stats = _csv(spark, data_dir, "sample_table_column_stats.csv")
    if stats is not None:
        add("column_stats", am.table_column_stats_nodes(stats),
            am.table_column_stats_relations(stats))

    # -- programmatic table descriptions (TableMetadata + description_source)
    prog = _csv(spark, data_dir, "sample_table_programmatic_source.csv")
    if prog is not None:
        add("programmatic_source",
            am.table_metadata_nodes(prog),
            am.table_metadata_relations(prog))

    # -- watermarks ----------------------------------------------------------
    wm = _csv(spark, data_dir, "sample_watermark.csv")
    if wm is not None:
        add("watermark", am.watermark_nodes(wm), am.watermark_relations(wm))

    # -- owners --------------------------------------------------------------
    owners = _csv(spark, data_dir, "sample_table_owner.csv")
    if owners is not None:
        add("table_owner", am.table_owner_nodes(owners),
            am.table_owner_relations(owners))

    # -- column usage ---------------------------------------------------------
    usage = _csv(spark, data_dir, "sample_column_usage.csv")
    if usage is not None:
        add("column_usage", am.column_usage_nodes(usage),
            am.column_usage_relations(usage))

    # -- users ----------------------------------------------------------------
    users = _csv(spark, data_dir, "sample_user.csv")
    if users is not None:
        add("user", am.user_nodes(users), am.user_relations(users))

    # -- applications ---------------------------------------------------------
    apps = _csv(spark, data_dir, "sample_application.csv")
    if apps is not None:
        add("application", am.application_nodes(apps),
            am.application_relations(apps))

    # -- sources ----------------------------------------------------------------
    srcs = _csv(spark, data_dir, "sample_source.csv")
    if srcs is not None:
        add("table_source", am.table_source_nodes(srcs),
            am.table_source_relations(srcs))

    # -- standalone tags (TagMetadata: Tag node, key=name) ----------------------
    tags = _csv(spark, data_dir, "sample_tags.csv")
    if tags is not None:
        from amundsendatabuilder_spark.operators.amundsen_models import _node, _smap

        add("tags",
            _node(tags, F.lower(F.trim(F.col("name"))), "Tag",
                  _smap(tag_type=F.col("tag_type"))).dropDuplicates(["key"]),
            None)

    # -- last updated -------------------------------------------------------------
    lu = _csv(spark, data_dir, "sample_table_last_updated.csv")
    if lu is not None:
        add("table_last_updated", am.table_last_updated_nodes(lu),
            am.table_last_updated_relations(lu))

    # -- schema descriptions -------------------------------------------------------
    sd = _csv(spark, data_dir, "sample_schema_description.csv")
    if sd is not None:
        add("schema_description", am.schema_nodes(sd), am.schema_relations(sd))

    # -- dashboards ------------------------------------------------------------------
    base = _csv(spark, data_dir, "sample_dashboard_base.csv")
    if base is not None:
        d = _dash(base).withColumn("tags", F.lit(None).cast("array<string>"))
        add("dashboard_metadata", dm.dashboard_metadata_nodes(d),
            dm.dashboard_metadata_relations(d))
    du = _csv(spark, data_dir, "sample_dashboard_usage.csv")
    if du is not None:
        d = _dash(du)
        add("dashboard_usage", dm.dashboard_usage_user_nodes(d),
            dm.dashboard_usage_relations(d))
    do = _csv(spark, data_dir, "sample_dashboard_owner.csv")
    if do is not None:
        add("dashboard_owner", None, dm.dashboard_owner_relations(_dash(do)))
    dq = _csv(spark, data_dir, "sample_dashboard_query.csv")
    if dq is not None:
        d = _dash(dq)
        add("dashboard_query", dm.dashboard_query_nodes(d),
            dm.dashboard_query_relations(d))
    de = _csv(spark, data_dir, "sample_dashboard_last_execution.csv")
    if de is not None:
        d = _dash(de)
        add("dashboard_execution", dm.dashboard_execution_nodes(d),
            dm.dashboard_execution_relations(d))
    dlm = _csv(spark, data_dir, "sample_dashboard_last_modified.csv")
    if dlm is not None:
        d = _dash(dlm)
        add("dashboard_last_modified", dm.dashboard_last_modified_nodes(d),
            dm.dashboard_last_modified_relations(d))
    dt = _csv(spark, data_dir, "sample_dashboard_table.csv")
    if dt is not None:
        d = _dash(dt).select(
            "product", "cluster", "group_id", "dashboard_id",
            F.explode(F.split("table_ids", ",")).alias("table_id"),
        ).select("product", "cluster", "group_id", "dashboard_id",
                 F.trim("table_id").alias("table_id"))
        add("dashboard_table", None, dm.dashboard_table_relations(d))

    # -- the ES-updated sentinel (create_last_updated_job) ---------------------------
    add("es_last_updated",
        am.neo4j_es_last_updated_nodes(spark, es_updated_ts), None)

    def _u(dfs: list[DataFrame]) -> DataFrame:
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    return (
        _merge_rows(_u(nodes), ["key", "label"]),
        _merge_rows(_u(rels), ["start_key", "start_label", "end_key",
                               "end_label", "type", "reverse_type"]),
        counts,
    )


def _merge_rows(df: DataFrame, keys: list[str]) -> DataFrame:
    """Resolve duplicate graph rows emitted by different fixture families
    (the same User from owners/usage/user CSVs, the same Table from the
    metadata and programmatic-source CSVs): per-ATTRIBUTE later-family-wins,
    exactly what the reference gets from running its jobs sequentially with
    ``MERGE ... ON MATCH SET`` (``neo4j_csv_publisher.py:235-287``).
    One row per key tuple comes out, so the lake's duplicate-key batch
    guard never trips.  Shape: explode both maps → window rank per
    (key..., attr) by family desc → regroup with ``map_from_entries``."""
    empty = F.create_map().cast("map<string,string>")

    def last_wins(col: str) -> DataFrame:
        e = df.select(
            *keys, "__fam",
            F.explode(F.coalesce(F.col(col), empty)).alias("k", "v"),
        )
        w = Window.partitionBy(*keys, "k").orderBy(
            F.col("__fam").desc(), F.col("v").desc())
        return (
            e.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .groupBy(*keys)
            .agg(F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("k", "v")))).alias(col))
        )

    spine = df.select(*keys).dropDuplicates(keys)
    out = (
        spine.join(last_wins("attributes"), keys, "left")
        .join(last_wins("attr_types"), keys, "left")
        .withColumn("scope_key", F.lit(None).cast("string"))
    )
    # attr_types stays null (not empty) when no family typed any attribute
    return out.withColumn(
        "attr_types",
        F.when(F.size(F.coalesce(F.col("attr_types"), empty)) > 0,
               F.col("attr_types")),
    )


def fixture_docs(nodes: DataFrame, rels: DataFrame) -> dict[str, DataFrame]:
    """The three ES document families the reference's three
    ``create_es_publisher_sample_job`` calls build, each from the graph."""
    from amundsendatabuilder_spark.operators.dashboard_models import (
        dashboard_docs_from_graph,
    )
    from amundsendatabuilder_spark.operators.search_docs import (
        docs_from_graph,
        user_docs_from_graph,
    )

    return {
        "table": docs_from_graph(nodes, rels),
        "user": user_docs_from_graph(nodes, rels),
        "dashboard": dashboard_docs_from_graph(nodes, rels),
    }


def ingest_fixture_dir(
    pipe: Any, data_dir: str, epoch_id: int = 0, export_dir: str | None = None,
) -> dict[str, Any]:
    """Replay the whole fixture family into ``pipe``'s lake graph tables as
    one idempotent epoch (channel ``fixture``), rebuild the three ES doc
    families from the committed graph, and (optionally) export them as
    canonical sorted-key JSON + sha256 — the FSElasticsearchJSONLoader
    analog for a real ES bulk load."""
    from amundsendatabuilder_spark.functions.serialize import canonical_doc_json

    nodes, rels, counts = fixture_graph(pipe.spark, data_dir)
    metrics: dict[str, Any] = {"families": counts}
    metrics["graph"] = pipe.apply_graph(nodes, rels, epoch_id, channel="fixture")

    docs = fixture_docs(pipe.graph_nodes.read(), pipe.graph_relations.read())
    for kind, df in docs.items():
        key = {"table": "key", "user": "email", "dashboard": "uri"}.get(kind)
        if key != "key" and key in df.columns:
            df = df.withColumn("key", F.col(key))
        elif "key" not in df.columns:
            df = df.withColumn("key", F.col(df.columns[0]))
        out = canonical_doc_json(df)
        metrics[f"{kind}_docs"] = out.count()
        if export_dir is not None:
            out.coalesce(1).write.mode("overwrite").json(
                os.path.join(export_dir, f"{kind}_search_docs"))
    if export_dir is not None:
        from amundsendatabuilder_spark.functions.es_mapping import (
            write_mappings,
        )

        metrics["mappings"] = write_mappings(export_dir)
    return metrics
