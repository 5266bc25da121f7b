"""Dashboard model family — the 8 reference dashboard expansions + the
dashboard search-document build, as DataFrame transforms.

Re-expresses ``databuilder/models/dashboard/*.py``:

* ``DashboardMetadata`` (``dashboard_metadata.py:16-280``) — Cluster /
  Dashboardgroup / Dashboard / Description / Tag nodes with the instance-level
  dedup sets (:58-59) becoming ``dropDuplicates``;
* ``DashboardQuery`` (``dashboard_query.py:17-100``), ``DashboardChart``
  (``dashboard_chart.py:17-105``), ``DashboardExecution``
  (``dashboard_execution.py:17-95``), ``DashboardLastModifiedTimestamp``
  (``dashboard_last_modified.py:18-95``), ``DashboardOwner``
  (``dashboard_owner.py:19-70``), ``DashboardUsage`` (``dashboard_usage.py:
  21-95``), ``DashboardTable`` (``dashboard_table.py:19-80``);
* ``DashboardESDocument`` (``dashboard_elasticsearch_document.py:11-50``) via
  the dashboard search Cypher (``neo4j_search_data_extractor.py:85-115``)
  re-expressed as spine joins + aggregations.

Key grammar (MERGE keys):
    cluster      {product}_dashboard://{cluster}
    group        {product}_dashboard://{cluster}.{group_id}
    dashboard    {product}_dashboard://{cluster}.{group_id}/{dashboard_id}
    description  {dashboard_key}/_description ; group: {group_key}/_description
    query        {dashboard_key}/query/{query_id}
    chart        {query_key}/chart/{chart_id}
    execution    {dashboard_key}/execution/{execution_id}
    last-mod     {dashboard_key}/_last_modified_timestamp

Input frame contract (one row per entity, columns as named below) — the
Mode/Redash/Tableau REST extractors land rows of exactly this shape.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amundsendatabuilder_spark.operators.amundsen_models import _node, _rel, _smap, _tmap

LAST_SUCCESSFUL_EXECUTION_ID = "_last_successful_execution"
LAST_EXECUTION_ID = "_last_execution"


def _u(dfs):
    return functools.reduce(lambda a, b: a.unionByName(b), dfs)


def _ckey():
    return F.concat(F.col("product"), F.lit("_dashboard://"), F.col("cluster"))


def _gkey():
    return F.concat(_ckey(), F.lit("."), F.col("group_id"))


def _dkey():
    return F.concat(_gkey(), F.lit("/"), F.col("dashboard_id"))


def _qkey():
    return F.concat(_dkey(), F.lit("/query/"), F.col("query_id"))


def dashboard_metadata_nodes(d: DataFrame) -> DataFrame:
    """d: product, cluster, group_id, group_name, group_url,
    group_description, dashboard_id, dashboard_name, description,
    created_timestamp, dashboard_url, tags array<string>."""
    parts = [
        # per-job dedup sets (dashboard_metadata.py:58-59,131-133) ≡ dropDuplicates
        _node(d, _ckey(), "Cluster", _smap(name=F.col("cluster"))).dropDuplicates(["key"]),
        _node(
            d.where(F.col("group_id").isNotNull()), _gkey(), "Dashboardgroup",
            _smap(name=F.col("group_name"), dashboard_group_url=F.col("group_url")),
        ).dropDuplicates(["key"]),
        _node(
            d, _dkey(), "Dashboard",
            _smap(name=F.col("dashboard_name"),
                  created_timestamp=F.col("created_timestamp"),
                  dashboard_url=F.col("dashboard_url")),
            _tmap(created_timestamp="int"),
        ),
        _node(
            d.where(F.col("group_description").isNotNull()),
            F.concat(_gkey(), F.lit("/_description")), "Description",
            _smap(description=F.col("group_description")),
        ).dropDuplicates(["key"]),
        _node(
            d.where(F.col("description").isNotNull()),
            F.concat(_dkey(), F.lit("/_description")), "Description",
            _smap(description=F.col("description")),
        ),
    ]
    tags = d.select(F.explode_outer("tags").alias("tag")).where(
        F.col("tag").isNotNull()
    )
    parts.append(
        _node(tags, F.lower(F.trim(F.col("tag"))), "Tag",
              _smap(tag_type=F.lit("dashboard"))).dropDuplicates(["key"])
    )
    return _u(parts)


def dashboard_metadata_relations(d: DataFrame) -> DataFrame:
    parts = [
        _rel(d, _ckey(), "Cluster", _gkey(), "Dashboardgroup",
             "DASHBOARD_GROUP", "DASHBOARD_GROUP_OF").dropDuplicates(
            ["start_key", "end_key", "type"]),
        _rel(d.where(F.col("group_description").isNotNull()),
             _gkey(), "Dashboardgroup",
             F.concat(_gkey(), F.lit("/_description")), "Description",
             "DESCRIPTION", "DESCRIPTION_OF").dropDuplicates(
            ["start_key", "end_key", "type"]),
        _rel(d, _dkey(), "Dashboard", _gkey(), "Dashboardgroup",
             "DASHBOARD_OF", "DASHBOARD"),
        _rel(d.where(F.col("description").isNotNull()), _dkey(), "Dashboard",
             F.concat(_dkey(), F.lit("/_description")), "Description",
             "DESCRIPTION", "DESCRIPTION_OF"),
    ]
    tags = d.select(
        F.col("product"), F.col("cluster"), F.col("group_id"), F.col("dashboard_id"),
        F.explode_outer("tags").alias("tag"),
    ).where(F.col("tag").isNotNull())
    parts.append(
        _rel(tags, _dkey(), "Dashboard", F.lower(F.trim(F.col("tag"))), "Tag",
             "TAG", "TAG_OF")
    )
    return _u(parts)


def dashboard_query_nodes(q: DataFrame) -> DataFrame:
    """q: product, cluster, group_id, dashboard_id, query_id, query_name,
    url, query_text."""
    return _node(
        q, _qkey(), "Query",
        _smap(id=F.col("query_id"), name=F.col("query_name"),
              url=F.col("url"), query_text=F.col("query_text")),
    )


def dashboard_query_relations(q: DataFrame) -> DataFrame:
    return _rel(q, _dkey(), "Dashboard", _qkey(), "Query",
                "HAS_QUERY", "QUERY_OF")


def dashboard_chart_nodes(c: DataFrame) -> DataFrame:
    """c: + chart_id, chart_name, chart_type, chart_url."""
    ck = F.concat(_qkey(), F.lit("/chart/"), F.col("chart_id"))
    return _node(
        c, ck, "Chart",
        _smap(id=F.col("chart_id"), name=F.col("chart_name"),
              type=F.col("chart_type"), url=F.col("chart_url")),
    )


def dashboard_chart_relations(c: DataFrame) -> DataFrame:
    ck = F.concat(_qkey(), F.lit("/chart/"), F.col("chart_id"))
    return _rel(c, _qkey(), "Query", ck, "Chart", "HAS_CHART", "CHART_OF")


def dashboard_execution_nodes(e: DataFrame) -> DataFrame:
    """e: product, cluster, group_id, dashboard_id, execution_id,
    timestamp, state. Special ids ``_last_successful_execution`` /
    ``_last_execution`` are the reference's rolling pointers."""
    ek = F.concat(_dkey(), F.lit("/execution/"), F.col("execution_id"))
    return _node(
        e, ek, "Execution",
        _smap(timestamp=F.col("timestamp"), state=F.col("state")),
        _tmap(timestamp="int"),
    )


def dashboard_execution_relations(e: DataFrame) -> DataFrame:
    ek = F.concat(_dkey(), F.lit("/execution/"), F.col("execution_id"))
    return _rel(e, _dkey(), "Dashboard", ek, "Execution",
                "EXECUTED", "EXECUTION_OF")


def dashboard_last_modified_nodes(m: DataFrame) -> DataFrame:
    """m: product, cluster, group_id, dashboard_id, last_modified_timestamp."""
    mk = F.concat(_dkey(), F.lit("/_last_modified_timestamp"))
    return _node(
        m, mk, "Timestamp",
        _smap(timestamp=F.col("last_modified_timestamp"),
              name=F.lit("last_updated_timestamp")),
        _tmap(timestamp="int"),
    )


def dashboard_last_modified_relations(m: DataFrame) -> DataFrame:
    mk = F.concat(_dkey(), F.lit("/_last_modified_timestamp"))
    return _rel(m, _dkey(), "Dashboard", mk, "Timestamp",
                "LAST_UPDATED_AT", "LAST_UPDATED_TIME_OF")


def dashboard_owner_relations(o: DataFrame) -> DataFrame:
    """o: + email. Dashboard-[OWNER]->User (owner_constants)."""
    return _rel(o, _dkey(), "Dashboard", F.col("email"), "User",
                "OWNER", "OWNER_OF")


def dashboard_usage_user_nodes(u: DataFrame) -> DataFrame:
    """Anonymous/simple User nodes when should_create_user_node
    (dashboard_usage.py:60-63)."""
    return _node(
        u.select("email").dropDuplicates(["email"]), F.col("email"), "User",
        _smap(email=F.col("email"), full_name=F.col("email"), is_active=F.lit(True)),
        _tmap(is_active="bool"),
    )


def dashboard_usage_relations(u: DataFrame) -> DataFrame:
    """u: + email, view_count. Dashboard-[READ_BY]->User with read_count."""
    return _rel(
        u, _dkey(), "Dashboard", F.col("email"), "User",
        "READ_BY", "READ",
        attrs=_smap(read_count=F.col("view_count")),
        types=_tmap(read_count="int"),
    )


def dashboard_table_relations(t: DataFrame) -> DataFrame:
    """t: + table_id ('{db}://{cluster}.{schema}/{tbl}'); rows whose
    table_id does not match the key grammar are silently skipped
    (dashboard_table.py:59-60 regex guard)."""
    ok = t.where(F.col("table_id").rlike(r"^[^./]+://[^./]+\.[^./]+/[^./]+$"))
    return _rel(ok, _dkey(), "Dashboard", F.col("table_id"), "Table",
                "DASHBOARD_WITH_TABLE", "TABLE_OF_DASHBOARD")


# ---- the dashboard search-document build ------------------------------------

def dashboard_docs_from_graph(nodes: DataFrame, relations: DataFrame) -> DataFrame:
    """DashboardESDocument rows from the graph tables — the Spark translation
    of the dashboard search Cypher (neo4j_search_data_extractor.py:85-115):
    Dashboard spine → group → cluster, left joins for descriptions and the
    ``_last_successful_execution`` pointer, SUM(read_count) usage,
    COLLECT(DISTINCT query/chart names), tags and badges."""
    n, r = nodes, relations
    att = lambda c: F.col("attributes")[c]  # noqa: E731

    dash = n.where(F.col("label") == "Dashboard").select(
        F.col("key").alias("uri"), att("name").alias("name"),
        att("dashboard_url").alias("url"),
    )
    d2g = r.where(F.col("type") == "DASHBOARD_OF").select(
        F.col("start_key").alias("uri"), F.col("end_key").alias("gkey")
    )
    grp = n.where(F.col("label") == "Dashboardgroup").select(
        F.col("key").alias("gkey"), att("name").alias("group_name"),
        att("dashboard_group_url").alias("group_url"),
    )
    descs = n.where(F.col("label") == "Description").select(
        F.col("key"), att("description").alias("d")
    )
    d_desc = descs.select(
        F.regexp_replace("key", "/_description$", "").alias("uri"),
        F.col("d").alias("description"),
    )
    g_desc = descs.select(
        F.regexp_replace("key", "/_description$", "").alias("gkey"),
        F.col("d").alias("group_description"),
    )
    last_exec = n.where(
        (F.col("label") == "Execution")
        & F.col("key").endswith("/execution/" + LAST_SUCCESSFUL_EXECUTION_ID)
    ).select(
        F.regexp_replace("key", "/execution/[^/]+$", "").alias("uri"),
        att("timestamp").cast("long").alias("last_successful_run_timestamp"),
    )
    usage = (
        r.where((F.col("type") == "READ_BY") & (F.col("start_label") == "Dashboard"))
        .groupBy(F.col("start_key").alias("uri"))
        .agg(F.sum(F.col("attributes")["read_count"].cast("long")).alias("total_usage"))
    )
    queries = (
        r.where(F.col("type") == "HAS_QUERY")
        .join(
            n.where(F.col("label") == "Query").select(
                F.col("key").alias("end_key"), att("name").alias("qname")
            ),
            "end_key",
        )
        .groupBy(F.col("start_key").alias("uri"))
        .agg(F.sort_array(F.collect_set("qname")).alias("query_names"))
    )
    charts = (
        r.where(F.col("type") == "HAS_CHART")
        .join(
            n.where(F.col("label") == "Chart").select(
                F.col("key").alias("end_key"), att("name").alias("cname")
            ),
            "end_key",
        )
        .select(
            F.regexp_replace("start_key", "/query/[^/]+$", "").alias("uri"),
            F.col("cname"),
        )
        .where(F.col("cname").isNotNull())
        .groupBy("uri")
        .agg(F.sort_array(F.collect_set("cname")).alias("chart_names"))
    )
    tags = (
        r.where((F.col("type") == "TAG") & (F.col("start_label") == "Dashboard"))
        .groupBy(F.col("start_key").alias("uri"))
        .agg(F.sort_array(F.collect_set("end_key")).alias("tags"))
    )
    badges = (
        r.where((F.col("type") == "HAS_BADGE") & (F.col("start_label") == "Dashboard"))
        .groupBy(F.col("start_key").alias("uri"))
        .agg(F.sort_array(F.collect_set("end_key")).alias("badges"))
    )

    empty = F.array().cast(T.ArrayType(T.StringType()))
    spine = (
        dash.join(d2g, "uri", "left")
        .join(grp, "gkey", "left")
        .join(d_desc, "uri", "left")
        .join(g_desc, "gkey", "left")
        .join(last_exec, "uri", "left")
        .join(usage, "uri", "left")
        .join(queries, "uri", "left")
        .join(charts, "uri", "left")
        .join(tags, "uri", "left")
        .join(badges, "uri", "left")
    )
    return spine.select(
        F.col("group_name"),
        F.col("name"),
        # split(dashboard.key,'_')[0] (Cypher) — the product prefix
        F.split(F.col("uri"), "_")[0].alias("product"),
        F.split(F.split(F.col("uri"), "://")[1], "\\.")[0].alias("cluster"),
        F.coalesce(F.col("description"), F.lit("")).alias("description"),
        F.coalesce(F.col("group_description"), F.lit("")).alias("group_description"),
        F.col("group_url"),
        F.col("url"),
        F.col("uri"),
        F.col("last_successful_run_timestamp"),
        F.coalesce(F.col("total_usage"), F.lit(0)).cast("long").alias("total_usage"),
        F.coalesce(F.col("query_names"), empty).alias("query_names"),
        F.coalesce(F.col("chart_names"), empty).alias("chart_names"),
        F.coalesce(F.col("tags"), empty).alias("tags"),
        F.coalesce(F.col("badges"), empty).alias("badges"),
    )
