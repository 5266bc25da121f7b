"""Search-document build — entity rows → table search documents.

Spark re-expression of the reference's biggest relational query, the Cypher
search-document extraction (``databuilder/extractor/neo4j_search_data_extractor.py:23-62``):
an 8-way OPTIONAL-MATCH join + collect/sum aggregation shaped into the
15-field ``TableESDocument`` (``databuilder/models/table_elasticsearch_document.py:9-50``).

In the CDC pipeline the docs are built **incrementally**: only the entities
touched by a micro-batch are (re)built and MERGEd, instead of the reference's
full-index rebuild + alias swap (``elasticsearch_publisher.py:74-125``) — at
the 100 TB design point a full rebuild per batch is untenable; the snapshot
swap the reference uses for atomicity is supplied by the lake's manifest
commit. A full rebuild from the graph tables is still available
(:func:`docs_from_graph`) and is used by tests to prove the incremental path
converges to the batch-rebuild answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOC_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("database", T.StringType()),
        T.StructField("cluster", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("display_name", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("last_updated_timestamp", T.LongType()),
        T.StructField("column_names", T.ArrayType(T.StringType())),
        T.StructField("column_descriptions", T.ArrayType(T.StringType())),
        T.StructField("total_usage", T.LongType()),
        T.StructField("unique_usage", T.LongType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("badges", T.ArrayType(T.StringType())),
        T.StructField("schema_description", T.StringType()),
        T.StructField("programmatic_descriptions", T.ArrayType(T.StringType())),
    ]
)


def docs_from_entities(e: DataFrame, usage: DataFrame | None = None) -> DataFrame:
    """Incremental path: docs straight from extracted entity rows (no joins —
    the entity row already carries everything the doc needs). ``usage``:
    optional (key, total_usage, unique_usage) frame — the accumulated READ
    state (reference ``SUM(read.read_count)`` / ``COUNT(DISTINCT user.email)``,
    ``neo4j_search_data_extractor.py:40-42``) — left-joined in; absent keys
    get 0, matching the Cypher OPTIONAL MATCH."""
    empty = "CAST(array() AS ARRAY<STRING>)"
    head = [
        "table_key AS key",
        "database",
        "cluster",
        "repo AS schema",
        "path AS name",
        "concat_ws('.', repo, path) AS display_name",
        "description",
        "last_updated_epoch AS last_updated_timestamp",
        "functions AS column_names",
        # non-null trailing comments in column order (Cypher COLLECT skips
        # nulls, so alignment with column_names is best-effort — same as ref)
        "filter(fn_comments, c -> c IS NOT NULL) AS column_descriptions",
    ]
    tail = [
        "array(lang) AS tags",
        f"{empty} AS badges",
        "CAST(NULL AS STRING) AS schema_description",
        f"{empty} AS programmatic_descriptions",
    ]
    if usage is None:
        return e.selectExpr(*head, "CAST(0 AS BIGINT) AS total_usage",
                            "CAST(0 AS BIGINT) AS unique_usage", *tail)
    u = usage.selectExpr("key", "CAST(total_usage AS BIGINT) AS __tu",
                         "CAST(unique_usage AS BIGINT) AS __uu")
    names = [f.name for f in DOC_SCHEMA.fields if "usage" not in f.name]
    return e.selectExpr(*head, *tail).join(u, "key", "left").selectExpr(
        *names[:10],
        "CAST(coalesce(__tu, 0) AS BIGINT) AS total_usage",
        "CAST(coalesce(__uu, 0) AS BIGINT) AS unique_usage",
        *names[10:],
    )


USER_DOC_SCHEMA = T.StructType(
    [
        T.StructField("email", T.StringType()),
        T.StructField("first_name", T.StringType()),
        T.StructField("last_name", T.StringType()),
        T.StructField("full_name", T.StringType()),
        T.StructField("github_username", T.StringType()),
        T.StructField("team_name", T.StringType()),
        T.StructField("employee_type", T.StringType()),
        T.StructField("manager_email", T.StringType()),
        T.StructField("slack_id", T.StringType()),
        T.StructField("role_name", T.StringType()),
        T.StructField("is_active", T.BooleanType()),
        T.StructField("total_read", T.LongType()),
        T.StructField("total_own", T.LongType()),
        T.StructField("total_follow", T.LongType()),
    ]
)


def user_docs_from_graph(nodes: DataFrame, relations: DataFrame) -> DataFrame:
    """UserESDocument rows (``user_elasticsearch_document.py:7``) via the user
    search Cypher (``neo4j_search_data_extractor.py:64-83``): per user —
    profile attributes, manager email (MANAGE_BY), ``total_read`` =
    REDUCE(sum read.read_count) over READ relations (stored once as READ_BY
    rows ending at the user), ``total_own`` = COUNT(DISTINCT owned objects),
    ``total_follow`` = COUNT(DISTINCT FOLLOWED_BY). Rows with null
    ``full_name`` are dropped, matching the Cypher WHERE (:72)."""
    att = lambda c: F.col("attributes")[c]  # noqa: E731
    users = nodes.where(F.col("label") == "User").select(
        F.col("key").alias("email"),
        att("first_name").alias("first_name"),
        att("last_name").alias("last_name"),
        att("full_name").alias("full_name"),
        att("github_username").alias("github_username"),
        att("team_name").alias("team_name"),
        att("employee_type").alias("employee_type"),
        att("slack_id").alias("slack_id"),
        att("role_name").alias("role_name"),
        F.coalesce(att("is_active").cast("boolean"), F.lit(True)).alias("is_active"),
    )
    mgr = relations.where(F.col("type") == "MANAGE_BY").select(
        F.col("start_key").alias("email"), F.col("end_key").alias("manager_email")
    )
    reads = (
        relations.where(F.col("type") == "READ_BY")
        .groupBy(F.col("end_key").alias("email"))
        .agg(F.sum(F.col("attributes")["read_count"].cast("long")).alias("total_read"))
    )
    # owned objects stored either direction: User-[OWNER_OF]->x or x-[OWNER]->User
    own = (
        relations.where(F.col("type") == "OWNER_OF")
        .select(F.col("start_key").alias("email"), F.col("end_key").alias("obj"))
        .unionByName(
            relations.where(F.col("type") == "OWNER").select(
                F.col("end_key").alias("email"), F.col("start_key").alias("obj")
            )
        )
        .groupBy("email")
        .agg(F.countDistinct("obj").alias("total_own"))
    )
    follow = (
        relations.where(F.col("type") == "FOLLOWED_BY")
        .groupBy(F.col("start_key").alias("email"))
        .agg(F.countDistinct("end_key").alias("total_follow"))
    )
    return (
        users.where(F.col("full_name").isNotNull())
        .join(mgr, "email", "left")
        .join(reads, "email", "left")
        .join(own, "email", "left")
        .join(follow, "email", "left")
        .select(
            "email", "first_name", "last_name", "full_name", "github_username",
            "team_name", "employee_type", "manager_email", "slack_id", "role_name",
            "is_active",
            F.coalesce(F.col("total_read"), F.lit(0)).cast("long").alias("total_read"),
            F.coalesce(F.col("total_own"), F.lit(0)).cast("long").alias("total_own"),
            F.coalesce(F.col("total_follow"), F.lit(0)).cast("long").alias("total_follow"),
        )
    )


def docs_from_graph(nodes: DataFrame, relations: DataFrame) -> DataFrame:
    """Batch path: rebuild all docs from the graph tables — the literal Spark
    translation of the reference Cypher (spine joins + left joins + aggs).

    Plan shape: Table spine ⟕ Schema (via TABLE rel) ⟕ Description ⟕ Columns
    (collect_list ordered by sort_order) ⟕ Timestamp. All joins are on node
    keys (hash joins; dimension sides are the smaller node subsets and
    broadcast under AQE)."""
    n = nodes
    tables = n.where(F.col("label") == "Table").select(
        F.col("key"),
        F.col("attributes")["name"].alias("name"),
    )
    tbl_rel = relations.where(F.col("type") == "TABLE").select(
        F.col("start_key").alias("schema_key"), F.col("end_key").alias("key")
    )
    schemas = n.where(F.col("label") == "Schema").select(
        F.col("key").alias("schema_key"),
        F.col("attributes")["name"].alias("schema"),
    )
    descs = n.where(F.col("label") == "Description").select(
        F.regexp_replace(F.col("key"), "/_description$", "").alias("key"),
        F.col("attributes")["description"].alias("description"),
    )
    # columns + their description nodes (key = {col_key}/_description),
    # ordered by sort_order; COLLECT of descriptions skips nulls (Cypher)
    # (the left join against Column keys below is what scopes these to
    # column descriptions — a table's description strips to the table key,
    # which is never a Column key)
    col_descs = n.where(F.col("label") == "Description").select(
        F.regexp_replace(F.col("key"), "/_description$", "").alias("col_key"),
        F.col("attributes")["description"].alias("col_desc"),
    )
    cols = (
        n.where(F.col("label") == "Column")
        .join(col_descs, F.col("key") == F.col("col_key"), "left")
        .select(
            F.regexp_extract(F.col("key"), "^(.*)/[^/]+$", 1).alias("key"),
            F.struct(
                F.col("attributes")["sort_order"].cast("int").alias("so"),
                F.col("attributes")["name"].alias("name"),
                F.col("col_desc").alias("desc"),
            ).alias("c"),
        )
        .groupBy("key")
        .agg(F.sort_array(F.collect_list("c")).alias("cs"))
        .select(
            "key",
            F.col("cs.name").alias("column_names"),
            F.filter(F.col("cs.desc"), lambda d: d.isNotNull()).alias(
                "column_descriptions"
            ),
        )
    )
    # READ_BY usage aggregation (reference SUM(read.read_count) +
    # COUNT(DISTINCT user.email), neo4j_search_data_extractor.py:40-42)
    usage = (
        relations.where(F.col("type") == "READ_BY")
        .select(
            F.col("start_key").alias("key"),
            F.col("end_key").alias("user"),
            F.col("attributes")["read_count"].cast("long").alias("rc"),
        )
        .groupBy("key")
        .agg(
            F.sum("rc").alias("total_usage"),
            F.countDistinct("user").alias("unique_usage"),
        )
    )
    ts = n.where(F.col("label") == "Timestamp").select(
        F.regexp_replace(F.col("key"), "/timestamp$", "").alias("key"),
        F.col("attributes")["last_updated_timestamp"].cast("long").alias(
            "last_updated_timestamp"
        ),
    )
    # tags: COLLECT(DISTINCT tags.key) over TAGGED_BY where tag_type=
    # 'default' (the reference Cypher, neo4j_search_data_extractor.py:34-36);
    # the cdc channel's Table nodes carry no Tag nodes but a `lang`
    # attribute, which stands in when no graph tag exists
    tag_nodes = n.where(
        (F.col("label") == "Tag")
        & (F.col("attributes")["tag_type"] == "default")
    ).select(F.col("key").alias("tag_key"))
    graph_tags = (
        relations.where(F.col("type") == "TAGGED_BY")
        .select(F.col("start_key").alias("key"),
                F.col("end_key").alias("tag_key"))
        .join(tag_nodes, "tag_key")
        .groupBy("key")
        .agg(F.sort_array(F.collect_set("tag_key")).alias("graph_tags"))
    )
    tags = (
        n.where(F.col("label") == "Table")
        .select(F.col("key"),
                F.array(F.col("attributes")["lang"]).alias("lang_tags"))
        .join(graph_tags, "key", "left")
        .select(
            "key",
            F.coalesce(
                F.col("graph_tags"),
                F.filter(F.col("lang_tags"), lambda x: x.isNotNull()),
            ).alias("tags"),
        )
    )
    # badges: COLLECT(DISTINCT badges.key) over HAS_BADGE (:37-39)
    badges = (
        relations.where(
            (F.col("type") == "HAS_BADGE") & (F.col("start_label") == "Table")
        )
        .groupBy(F.col("start_key").alias("key"))
        .agg(F.sort_array(F.collect_set("end_key")).alias("badges"))
    )
    # schema description: (schema)-[:DESCRIPTION]->(desc) (:30)
    schema_descs = n.where(F.col("label") == "Description").select(
        F.regexp_replace(F.col("key"), "/_description$", "").alias("schema_key"),
        F.col("attributes")["description"].alias("schema_description"),
    )
    # programmatic descriptions: COLLECT over the Programmatic_Description
    # nodes hanging off the table (:31-33), deterministic source order
    prog = (
        n.where(F.col("label") == "Programmatic_Description")
        .select(
            F.regexp_extract(F.col("key"), "^(.*)/[^/]+$", 1).alias("key"),
            F.struct(F.col("key").alias("pk"),
                     F.col("attributes")["description"].alias("d")).alias("p"),
        )
        .groupBy("key")
        .agg(F.sort_array(F.collect_list("p")).alias("ps"))
        .select("key", F.col("ps.d").alias("programmatic_descriptions"))
    )

    empty = F.array().cast(T.ArrayType(T.StringType()))
    spine = (
        tables.join(tbl_rel, "key", "left")
        .join(schemas, "schema_key", "left")
        .join(schema_descs, "schema_key", "left")
        .join(descs, "key", "left")
        .join(cols, "key", "left")
        .join(ts, "key", "left")
        .join(tags, "key", "left")
        .join(badges, "key", "left")
        .join(prog, "key", "left")
        .join(usage, "key", "left")
    )
    return spine.select(
        "key",
        F.split(F.col("key"), "://")[0].alias("database"),
        F.split(F.split(F.col("key"), "://")[1], "\\.")[0].alias("cluster"),
        F.col("schema"),
        F.col("name"),
        F.concat_ws(".", F.col("schema"), F.col("name")).alias("display_name"),
        F.col("description"),
        F.col("last_updated_timestamp"),
        F.coalesce(F.col("column_names"), empty).alias("column_names"),
        F.coalesce(F.col("column_descriptions"), empty).alias("column_descriptions"),
        F.coalesce(F.col("total_usage"), F.lit(0)).cast("long").alias("total_usage"),
        F.coalesce(F.col("unique_usage"), F.lit(0)).cast("long").alias("unique_usage"),
        F.coalesce(F.col("tags"), empty).alias("tags"),
        F.coalesce(F.col("badges"), empty).alias("badges"),
        F.col("schema_description"),
        F.coalesce(F.col("programmatic_descriptions"), empty).alias(
            "programmatic_descriptions"),
    )
