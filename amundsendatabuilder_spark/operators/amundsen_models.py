"""Amundsen fixture-model expansions — exact reference-shape nodes/relations.

Each function takes a DataFrame shaped like the reference's sample-data CSVs
(FIXTURES.md §3 / ``/root/reference/example/sample_data/*.csv``) and emits
long-format node/relation frames whose serialized form (via
``functions.serialize``) is byte-compatible with the reference serializers —
golden-tested in ``tests/test_amundsen_models.py`` against the expected dicts
of the reference's own unit tests (``tests/unit/models/test_table_metadata.py:36-110``
et al.). This is the general-purpose metadata-entity path of the engine (the
CDC pipeline's ``operators.models`` is the repo-table specialization).

All expansions are select/explode pipelines; shared Database/Cluster/Schema
node dedup is ``dropDuplicates`` (≡ class-level dedup sets,
``table_metadata.py:232-234``).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amundsendatabuilder_spark.operators.models import NODE_SCHEMA  # noqa: F401  (same shapes)


# Column-built node/relation families for the catalog, dashboard and sample
# channels (one pass per scan); the CDC epoch expansion in ``models`` builds
# the same shapes from SQL text.

def _smap(**kv: Column | str) -> Column:
    """map<string,string> literal from name→Column pairs (nulls kept)."""
    parts: list[Column] = []
    for k, v in kv.items():
        parts.append(F.lit(k))
        parts.append((v if isinstance(v, Column) else F.lit(v)).cast("string"))
    return F.create_map(*parts)


def _tmap(**kv: str) -> Column:
    if not kv:
        return F.lit(None).cast(T.MapType(T.StringType(), T.StringType()))
    parts: list[Column] = []
    for k, v in kv.items():
        parts += [F.lit(k), F.lit(v)]
    return F.create_map(*parts)


def _node(e: DataFrame, key: Column, label: str, attrs: Column,
          types: Column | None = None) -> DataFrame:
    return e.select(
        key.alias("key"),
        F.lit(label).alias("label"),
        attrs.alias("attributes"),
        (types if types is not None else _tmap()).alias("attr_types"),
        F.lit(None).cast("string").alias("scope_key"),
    )


def _rel(e: DataFrame, sk: Column, sl: str, ek: Column, el: str, typ: str,
         rtyp: str, attrs: Column | None = None,
         types: Column | None = None) -> DataFrame:
    null_map = F.lit(None).cast(T.MapType(T.StringType(), T.StringType()))
    return e.select(
        sk.alias("start_key"),
        F.lit(sl).alias("start_label"),
        ek.alias("end_key"),
        F.lit(el).alias("end_label"),
        F.lit(typ).alias("type"),
        F.lit(rtyp).alias("reverse_type"),
        (attrs if attrs is not None else null_map).alias("attributes"),
        (types if types is not None else null_map).alias("attr_types"),
        F.lit(None).cast("string").alias("scope_key"),
    )


def _u(dfs):
    return functools.reduce(lambda a, b: a.unionByName(b), dfs)


def _tbl_key(db="database", cluster="cluster", schema="schema", tbl="name"):
    return F.concat(
        F.col(db), F.lit("://"), F.col(cluster), F.lit("."), F.col(schema),
        F.lit("/"), F.col(tbl),
    )


# ---- TableMetadata (databuilder/models/table_metadata.py:193-503) ----------

def _desc_prog(tables: DataFrame):
    """True for rows whose description is PROGRAMMATIC (a non-default
    description_source): node id ``_{source}_description`` and label
    ``Programmatic_Description`` instead of ``_description``/``Description``
    (``table_metadata.py:100-127``)."""
    if "description_source" not in tables.columns:
        return F.lit(False)
    return (
        F.col("description_source").isNotNull()
        & (F.length("description_source") > 0)
        & (F.col("description_source") != "description")
    )


def _desc_id(tables: DataFrame):
    if "description_source" not in tables.columns:
        return F.lit("_description")
    return F.when(
        _desc_prog(tables),
        F.concat(F.lit("_"), F.col("description_source"), F.lit("_description")),
    ).otherwise(F.lit("_description"))


def _desc_src(tables: DataFrame):
    if "description_source" not in tables.columns:
        return F.lit("description")
    return F.when(_desc_prog(tables), F.col("description_source")).otherwise(
        F.lit("description"))


def table_metadata_nodes(tables: DataFrame, columns: DataFrame | None = None) -> DataFrame:
    """tables: database,cluster,schema,name,description[,tags,is_view,
    description_source]; columns: name,description,col_type,sort_order,
    database,cluster,schema,table_name."""
    t = tables.withColumn("__tk", _tbl_key())
    parts = [
        _node(t, F.col("__tk"), "Table",
              _smap(name=F.col("name"),
                    is_view=F.coalesce(F.col("is_view").cast("boolean"), F.lit(False))
                    if "is_view" in tables.columns else F.lit(False)),
              _tmap(is_view="bool")),
        _node(t.where(F.col("description").isNotNull() & ~_desc_prog(tables)),
              F.concat(F.col("__tk"), F.lit("/_description")), "Description",
              _smap(description=F.col("description"),
                    description_source=F.lit("description"))),
        _node(t.where(F.col("description").isNotNull() & _desc_prog(tables)),
              F.concat(F.col("__tk"), F.lit("/"), _desc_id(tables)),
              "Programmatic_Description",
              _smap(description=F.col("description"),
                    description_source=_desc_src(tables))),
    ]
    if "tags" in tables.columns:
        tag = t.select(
            F.explode(
                F.filter(
                    F.transform(F.split(F.coalesce(F.col("tags"), F.lit("")), ","),
                                lambda x: F.lower(F.trim(x))),
                    lambda x: F.length(x) > 0,
                )
            ).alias("tag")
        )
        parts.append(
            _node(tag, F.col("tag"), "Tag", _smap(tag_type=F.lit("default")))
            .dropDuplicates(["key"])
        )
    if columns is not None:
        c = columns.withColumn(
            "__tk", _tbl_key(tbl="table_name")
        ).withColumn("__ck", F.concat(F.col("__tk"), F.lit("/"), F.col("name")))
        parts.append(
            _node(c, F.col("__ck"), "Column",
                  _smap(name=F.col("name"), type=F.col("col_type"),
                        sort_order=F.col("sort_order").cast("int")),
                  _tmap(sort_order="int"))
        )
        parts.append(
            _node(c.where(F.col("description").isNotNull() & (F.length("description") > 0)),
                  F.concat(F.col("__ck"), F.lit("/_description")), "Description",
                  _smap(description=F.col("description"),
                        description_source=F.lit("description")))
        )
    shared = _u([
        _node(t, F.concat(F.lit("database://"), F.col("database")), "Database",
              _smap(name=F.col("database"))),
        _node(t, F.concat(F.col("database"), F.lit("://"), F.col("cluster")),
              "Cluster", _smap(name=F.col("cluster"))),
        _node(t, F.concat(F.col("database"), F.lit("://"), F.col("cluster"),
                          F.lit("."), F.col("schema")), "Schema",
              _smap(name=F.col("schema"))),
    ]).dropDuplicates(["key", "label"])
    return _u(parts).unionByName(shared)


def table_metadata_relations(tables: DataFrame, columns: DataFrame | None = None) -> DataFrame:
    t = tables.withColumn("__tk", _tbl_key())
    sk = F.concat(F.col("database"), F.lit("://"), F.col("cluster"), F.lit("."), F.col("schema"))
    parts = [
        _rel(t, sk, "Schema", F.col("__tk"), "Table", "TABLE", "TABLE_OF"),
        _rel(t.where(F.col("description").isNotNull() & ~_desc_prog(tables)),
             F.col("__tk"), "Table",
             F.concat(F.col("__tk"), F.lit("/_description")), "Description",
             "DESCRIPTION", "DESCRIPTION_OF"),
        _rel(t.where(F.col("description").isNotNull() & _desc_prog(tables)),
             F.col("__tk"), "Table",
             F.concat(F.col("__tk"), F.lit("/"), _desc_id(tables)),
             "Programmatic_Description", "DESCRIPTION", "DESCRIPTION_OF"),
    ]
    if "tags" in tables.columns:
        tag = t.select(
            "__tk",
            F.explode(
                F.filter(
                    F.transform(F.split(F.coalesce(F.col("tags"), F.lit("")), ","),
                                lambda x: F.lower(F.trim(x))),
                    lambda x: F.length(x) > 0,
                )
            ).alias("tag"),
        )
        parts.append(_rel(tag, F.col("__tk"), "Table", F.col("tag"), "Tag",
                          "TAGGED_BY", "TAG"))
    if columns is not None:
        c = columns.withColumn("__tk", _tbl_key(tbl="table_name")).withColumn(
            "__ck", F.concat(F.col("__tk"), F.lit("/"), F.col("name"))
        )
        parts.append(_rel(c, F.col("__tk"), "Table", F.col("__ck"), "Column",
                          "COLUMN", "COLUMN_OF"))
        parts.append(
            _rel(c.where(F.col("description").isNotNull() & (F.length("description") > 0)),
                 F.col("__ck"), "Column",
                 F.concat(F.col("__ck"), F.lit("/_description")), "Description",
                 "DESCRIPTION", "DESCRIPTION_OF")
        )
    shared = _u([
        _rel(t, F.concat(F.lit("database://"), F.col("database")), "Database",
             F.concat(F.col("database"), F.lit("://"), F.col("cluster")), "Cluster",
             "CLUSTER", "CLUSTER_OF"),
        _rel(t, F.concat(F.col("database"), F.lit("://"), F.col("cluster")), "Cluster",
             sk, "Schema", "SCHEMA", "SCHEMA_OF"),
    ]).dropDuplicates(["start_key", "end_key", "type"])
    return _u(parts).unionByName(shared)


# ---- TableOwner (table_owner.py:15-98) --------------------------------------

def table_owner_nodes(owners: DataFrame) -> DataFrame:
    """owners: db_name,schema,cluster,table_name,owners (comma-separated)."""
    o = owners.select(
        F.explode(F.split(F.col("owners"), ",")).alias("email")
    ).select(F.trim(F.col("email")).alias("email")).where(F.length("email") > 0)
    return _node(o, F.col("email"), "User", _smap(email=F.col("email"))).dropDuplicates(["key"])


def table_owner_relations(owners: DataFrame) -> DataFrame:
    o = owners.withColumn("__tk", _tbl_key("db_name", "cluster", "schema", "table_name")).select(
        "__tk", F.explode(F.split(F.col("owners"), ",")).alias("email")
    ).select("__tk", F.trim(F.col("email")).alias("email")).where(F.length("email") > 0)
    return _rel(o, F.col("email"), "User", F.col("__tk"), "Table", "OWNER_OF", "OWNER")


# ---- Watermark (watermark.py:13-108) ----------------------------------------

def _valid_watermarks(wm: DataFrame) -> DataFrame:
    """Reference raises unless '=' is in part_name ('only partition table has
    high watermark', watermark.py:38-45) — the set-based form drops the
    invalid rows instead of silently emitting a garbage partition_value."""
    return wm.where(F.col("part_name").contains("="))


def watermark_nodes(wm: DataFrame) -> DataFrame:
    """wm: create_time,database,schema,table_name,part_name(key=value[/...]),
    part_type,cluster. partition_key = first part's key; partition_value =
    remainder after the first '='."""
    wm = _valid_watermarks(wm)
    w = wm.withColumn(
        "__tk", _tbl_key("database", "cluster", "schema", "table_name")
    ).withColumn("__wk", F.concat(F.col("__tk"), F.lit("/"), F.col("part_type"), F.lit("/")))
    return _node(
        w, F.col("__wk"), "Watermark",
        _smap(
            partition_key=F.substring_index(F.split(F.col("part_name"), "/")[0], "=", 1),
            partition_value=F.expr("substring(part_name, instr(part_name, '=') + 1)"),
            create_time=F.col("create_time"),
        ),
    )


def watermark_relations(wm: DataFrame) -> DataFrame:
    wm = _valid_watermarks(wm)
    w = wm.withColumn(
        "__tk", _tbl_key("database", "cluster", "schema", "table_name")
    ).withColumn("__wk", F.concat(F.col("__tk"), F.lit("/"), F.col("part_type"), F.lit("/")))
    return _rel(w, F.col("__wk"), "Watermark", F.col("__tk"), "Table",
                "BELONG_TO_TABLE", "WATERMARK")


# ---- Badge (badge.py:27-122) -------------------------------------------------

def badge_nodes(badges: DataFrame) -> DataFrame:
    """badges: name,category,database,cluster,schema,table_name."""
    b = badges.select(F.lower(F.trim(F.col("name"))).alias("badge"), "category")
    return _node(b, F.col("badge"), "Badge", _smap(category=F.col("category"))).dropDuplicates(["key"])


# per-label start-key patterns (badge.py:45-52); reference .match = anchored
# prefix match, reproduced with a ^-anchored rlike
BADGE_KEY_PATTERNS = {
    "Table": r"^[a-z]+://[a-zA-Z0-9_.-]+.[a-zA-Z0-9_.-]+/[a-zA-Z0-9_.-]+",
    "Dashboard": r"^[a-z]+_dashboard://[a-zA-Z0-9_.-]+.[a-zA-Z0-9_.-]+/[a-zA-Z0-9_.-]+",
    "Column": r"^[a-z]+://[a-zA-Z0-9_.-]+.[a-zA-Z0-9_.-]+/[a-zA-Z0-9_.-]+/[a-zA-Z0-9_.-]+",
}


def badge_relations(badges: DataFrame, start_label: str = "Column",
                    start_key_col: str | None = None) -> DataFrame:
    """Start-label must be one of Table/Dashboard/Column and start keys must
    match the label's key pattern (reference raises per record,
    badge.py:45-61; here the unsupported label raises and non-matching rows
    are filtered — the set-based form of the same data-quality gate)."""
    if start_label not in BADGE_KEY_PATTERNS:
        raise ValueError(
            f"{start_label} is not a valid start_label for a Badge relation"
        )
    if start_key_col is not None:
        b = badges.withColumn("__tk", F.col(start_key_col))
    else:
        b = badges.withColumn("__tk", _tbl_key("database", "cluster", "schema", "table_name"))
        if start_label == "Column" and "column_name" in badges.columns:
            b = b.withColumn("__tk", F.concat(F.col("__tk"), F.lit("/"), F.col("column_name")))
    b = b.where(F.col("__tk").rlike(BADGE_KEY_PATTERNS[start_label]))
    return _rel(b, F.col("__tk"), start_label, F.lower(F.trim(F.col("name"))), "Badge",
                "HAS_BADGE", "BADGE_FOR")


# ---- TableColumnStats (table_stats.py:11-106) ---------------------------------

def table_column_stats_nodes(stats: DataFrame) -> DataFrame:
    """stats: db,cluster,schema,table_name,col_name,stat_name,stat_val,
    start_epoch,end_epoch. Stat node key = {tbl_key}/{col}/{stat_name}/."""
    s = stats.withColumn("__tk", _tbl_key("db", "cluster", "schema", "table_name"))
    sk = F.concat(F.col("__tk"), F.lit("/"), F.col("col_name"), F.lit("/"),
                  F.col("stat_name"), F.lit("/"))
    return _node(
        s, sk, "Stat",
        _smap(stat_val=F.col("stat_val"), stat_name=F.col("stat_name"),
              start_epoch=F.col("start_epoch"), end_epoch=F.col("end_epoch")),
    )


def table_column_stats_relations(stats: DataFrame) -> DataFrame:
    """Stat-[STAT_OF]->Column (reverse STAT), table_stats.py:91-106."""
    s = stats.withColumn("__tk", _tbl_key("db", "cluster", "schema", "table_name"))
    sk = F.concat(F.col("__tk"), F.lit("/"), F.col("col_name"), F.lit("/"),
                  F.col("stat_name"), F.lit("/"))
    ck = F.concat(F.col("__tk"), F.lit("/"), F.col("col_name"))
    return _rel(s, sk, "Stat", ck, "Column", "STAT_OF", "STAT")


# ---- SchemaModel standalone (schema/schema.py:15-80) ---------------------------

def schema_nodes(schemas: DataFrame) -> DataFrame:
    """schemas: schema_key,schema[,description,description_source]."""
    has_desc = "description" in schemas.columns
    parts = [
        _node(schemas, F.col("schema_key"), "Schema",
              _smap(name=F.col("schema"))),
    ]
    if has_desc:
        src = (F.col("description_source") if "description_source" in schemas.columns
               else F.lit(None).cast("string"))
        d = schemas.withColumn("__src", src).where(F.col("description").isNotNull())
        desc_id = F.when(
            F.col("__src").isNotNull(),
            F.concat(F.lit("_"), F.col("__src"), F.lit("_description")),
        ).otherwise(F.lit("_description"))
        parts.append(
            _node(
                d, F.concat(F.col("schema_key"), F.lit("/"), desc_id), "Description",
                _smap(description=F.col("description"),
                      description_source=F.coalesce(F.col("__src"), F.lit("description"))),
            )
        )
    return _u(parts)


def schema_relations(schemas: DataFrame) -> DataFrame:
    if "description" not in schemas.columns:
        return _rel(schemas.limit(0), F.col("schema_key"), "Schema",
                    F.col("schema_key"), "Description",
                    "DESCRIPTION", "DESCRIPTION_OF")
    src = (F.col("description_source") if "description_source" in schemas.columns
           else F.lit(None).cast("string"))
    d = schemas.withColumn("__src", src).where(F.col("description").isNotNull())
    desc_id = F.when(
        F.col("__src").isNotNull(),
        F.concat(F.lit("_"), F.col("__src"), F.lit("_description")),
    ).otherwise(F.lit("_description"))
    return _rel(d, F.col("schema_key"), "Schema",
                F.concat(F.col("schema_key"), F.lit("/"), desc_id), "Description",
                "DESCRIPTION", "DESCRIPTION_OF")


# ---- Neo4jESLastUpdated (neo4j_es_last_updated.py:11-60) ------------------------

def neo4j_es_last_updated_nodes(spark, timestamp: int) -> DataFrame:
    """The singleton watermark node the reference publishes after every run:
    key 'amundsen_updated_timestamp', attr 'latest_timestmap' (typo preserved
    — it is the reference's wire format)."""
    row = spark.range(1).select(F.lit(int(timestamp)).alias("ts"))
    return _node(
        row, F.lit("amundsen_updated_timestamp"), "Updatedtimestamp",
        _smap(latest_timestmap=F.col("ts")),
        _tmap(latest_timestmap="int"),
    )


# ---- ColumnUsage (column_usage_model.py:18-99) -------------------------------

def column_usage_nodes(usage: DataFrame) -> DataFrame:
    """usage: database,cluster,schema,table_name,column_name,user_email,read_count."""
    u = usage.select(F.col("user_email").alias("email")).dropDuplicates()
    return _node(u, F.col("email"), "User", _smap(email=F.col("email")))


def column_usage_relations(usage: DataFrame) -> DataFrame:
    """Table-[READ_BY]->User (reverse READ) with read_count — the exact
    wire direction of ``column_usage_model.py:75-85``
    (type=TABLE_USER_RELATION_TYPE='READ_BY'), which the table search
    Cypher depends on (``neo4j_search_data_extractor.py:39-42`` matches
    ``(table)-[read:READ_BY]->(user)``)."""
    u = usage.withColumn("__tk", _tbl_key("database", "cluster", "schema", "table_name"))
    return _rel(
        u, F.col("__tk"), "Table", F.col("user_email"), "User", "READ_BY", "READ",
        attrs=_smap(read_count=F.col("read_count").cast("int")),
        types=_tmap(read_count="int"),
    )


# ---- User (user.py:14-179) ----------------------------------------------------

def user_nodes(users: DataFrame) -> DataFrame:
    """users: email,first_name,last_name,full_name,github_username,team_name,
    employee_type,manager_email,slack_id,role_name[,is_active,updated_at]."""
    c = F.coalesce
    e = F.lit("")
    u = users
    return _node(
        u, F.col("email"), "User",
        _smap(
            email=F.col("email"),
            is_active=F.lit(True),
            first_name=c(F.col("first_name"), e),
            last_name=c(F.col("last_name"), e),
            full_name=c(F.col("full_name"), e),
            github_username=c(F.col("github_username"), e),
            team_name=c(F.col("team_name"), e),
            employee_type=c(F.col("employee_type"), e),
            slack_id=c(F.col("slack_id"), e),
            role_name=c(F.col("role_name"), e),
            updated_at=F.lit(0),
        ),
        _tmap(is_active="bool", updated_at="int"),
    )


def user_relations(users: DataFrame) -> DataFrame:
    """Employee-[MANAGE_BY]->Manager, reverse MANAGE — the reference's exact
    wire constants (``databuilder/models/user.py:33-34,160-175``); emitted only
    when manager_email is non-empty (:161-162)."""
    u = users.where(F.col("manager_email").isNotNull() & (F.length("manager_email") > 0))
    return _rel(u, F.col("email"), "User", F.col("manager_email"), "User",
                "MANAGE_BY", "MANAGE")


# ---- TableSource (table_source.py:12-98) --------------------------------------

def table_source_nodes(srcs: DataFrame) -> DataFrame:
    """srcs: db_name,schema,cluster,table_name,source,source_type."""
    s = srcs.withColumn("__tk", _tbl_key("db_name", "cluster", "schema", "table_name"))
    return _node(
        s, F.concat(F.col("__tk"), F.lit("/_source")), "Source",
        _smap(source=F.col("source"), source_type=F.col("source_type")),
    )


def table_source_relations(srcs: DataFrame) -> DataFrame:
    s = srcs.withColumn("__tk", _tbl_key("db_name", "cluster", "schema", "table_name"))
    return _rel(s, F.concat(F.col("__tk"), F.lit("/_source")), "Source",
                F.col("__tk"), "Table", "SOURCE", "SOURCE_OF")


# ---- TableLastUpdated (table_last_updated.py:13-107) ---------------------------

def table_last_updated_nodes(lu: DataFrame) -> DataFrame:
    """lu: cluster,db,schema,table_name,last_updated_time_epoch."""
    t = lu.withColumn("__tk", _tbl_key("db", "cluster", "schema", "table_name"))
    ts = F.col("last_updated_time_epoch").cast("long")
    return _node(
        t, F.concat(F.col("__tk"), F.lit("/timestamp")), "Timestamp",
        _smap(last_updated_timestamp=ts, timestamp=ts,
              name=F.lit("last_updated_timestamp")),
        _tmap(last_updated_timestamp="int", timestamp="int"),
    )


def table_last_updated_relations(lu: DataFrame) -> DataFrame:
    t = lu.withColumn("__tk", _tbl_key("db", "cluster", "schema", "table_name"))
    return _rel(t, F.col("__tk"), "Table", F.concat(F.col("__tk"), F.lit("/timestamp")),
                "Timestamp", "LAST_UPDATED_AT", "LAST_UPDATED_TIME_OF")


# ---- TableLineage (table_lineage.py:13-102) -------------------------------------

def table_lineage_relations(lineage: DataFrame) -> DataFrame:
    """lineage: source_table_key, downstream_deps (comma-separated keys).
    Deps failing the reference key regex (``table_lineage.py:76``) are
    silently skipped (:78); forward/reverse = UPSTREAM/DOWNSTREAM (:19-20)."""
    key_re = r"^(\w+)://(\w+)\.(\w+)/(\w+)"  # re.match semantics: anchored start
    ln = lineage.select(
        F.col("source_table_key").alias("__src"),
        F.explode(F.split(F.col("downstream_deps"), ",")).alias("__dst"),
    ).select("__src", F.trim(F.col("__dst")).alias("__dst"))
    ln = ln.where(F.col("__dst").rlike(key_re))
    return _rel(ln, F.col("__src"), "Table", F.col("__dst"), "Table",
                "UPSTREAM", "DOWNSTREAM")


# ---- Application (application.py:12-119) ------------------------------------------

def application_nodes(apps: DataFrame) -> DataFrame:
    """apps: task_id,dag_id,exec_date,application_url_template,db_name,schema,
    table_name,cluster."""
    a = apps.withColumn(
        "__ak",
        F.concat(F.lit("application://"), F.col("cluster"), F.lit(".airflow/"),
                 F.col("dag_id"), F.lit("/"), F.col("task_id")),
    )
    return _node(
        a, F.col("__ak"), "Application",
        _smap(
            application_url=F.col("application_url_template"),
            id=F.concat(F.col("dag_id"), F.lit("/"), F.col("task_id")),
            name=F.lit("Airflow"),
            description=F.concat(F.lit("Airflow with id "), F.col("dag_id"),
                                 F.lit("/"), F.col("task_id")),
        ),
    )


def application_relations(apps: DataFrame) -> DataFrame:
    a = apps.withColumn(
        "__ak",
        F.concat(F.lit("application://"), F.col("cluster"), F.lit(".airflow/"),
                 F.col("dag_id"), F.lit("/"), F.col("task_id")),
    ).withColumn("__tk", _tbl_key("db_name", "cluster", "schema", "table_name"))
    return _rel(a, F.col("__tk"), "Table", F.col("__ak"), "Application",
                "DERIVED_FROM", "GENERATES")
