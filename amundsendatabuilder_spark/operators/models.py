"""Model expansion — entity rows fan out to graph nodes + relations.

Re-expresses the reference's ``GraphSerializable`` iterators
(``databuilder/models/graph_serializable.py:21-61``; ``TableMetadata``
expansion ``databuilder/models/table_metadata.py:334-503``; owner
``table_owner.py:59-95``; last-updated ``table_last_updated.py:74-107``;
watermark ``watermark.py:74-104``) as Spark SQL expression text — one
``selectExpr`` per node/relation family (``posexplode``/``explode`` for the
per-function families), parsed once by the JVM — unioned into long-format
node/relation frames; unions are plan-level (no shuffle). Shared
Database/Cluster/Schema/User rows repeat once per entity; the pipeline's
keyed aggregate keeps one per key, equivalent to
the reference's class-level first-writer-wins dedup sets
(``table_metadata.py:232-234``; payload is key-determined so LWW==FWW).

Node/relation value typing follows the reference's stringly model: attribute
values are strings; ``attr_types`` marks int/bool attributes so the CSV
emitter can reproduce the ``:UNQUOTED`` header suffix
(``databuilder/serializers/neo4_serializer.py:52-59``).

``scope_key``: entity-scoped rows (table node, its columns/description/
timestamp/watermark and their relations) carry their owning ``table_key`` so
the pipeline can compute exact child-deletion sets (old scoped keys minus new
scoped keys) when an entity shrinks or is deleted — it expands new and old
entity rows together, carrying a side tag, and resolves the diff in the same
keyed aggregate. Shared nodes
(Database/Cluster/Schema/User) have null scope and are reclaimed only by the
staleness task, mirroring reference semantics.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from amundsendatabuilder_spark.functions.sqltext import sql_ident, sql_str

NODE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("label", T.StringType()),
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType())),
        T.StructField("attr_types", T.MapType(T.StringType(), T.StringType())),
        T.StructField("scope_key", T.StringType()),
    ]
)

REL_SCHEMA = T.StructType(
    [
        T.StructField("start_key", T.StringType()),
        T.StructField("start_label", T.StringType()),
        T.StructField("end_key", T.StringType()),
        T.StructField("end_label", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("reverse_type", T.StringType()),
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType())),
        T.StructField("attr_types", T.MapType(T.StringType(), T.StringType())),
        T.StructField("scope_key", T.StringType()),
    ]
)

# shared (cross-entity) node labels — create-only + staleness-reclaimed
SHARED_LABELS = ("Database", "Cluster", "Schema", "User")


_NULL_MAP = "CAST(NULL AS MAP<STRING, STRING>)"
_NULL_STR = "CAST(NULL AS STRING)"
# one (function name, trailing comment) struct per extracted function
_FN_ZIP = "zip_with(functions, fn_comments, (fn, cm) -> named_struct('fn', fn, 'cm', cm))"


def _smap(**kv: str) -> str:
    """map<string,string> from name → SQL expression pairs (nulls kept)."""
    return "map(" + ", ".join(
        f"{sql_str(k)}, CAST({v} AS STRING)" for k, v in kv.items()) + ")"


def _tmap(**kv: str) -> str:
    if not kv:
        return _NULL_MAP
    return "map(" + ", ".join(
        f"{sql_str(k)}, {sql_str(v)}" for k, v in kv.items()) + ")"


def _node(e: DataFrame, key: str, label: str, attrs: str,
          types: str | None = None, scope: str | None = None,
          carry: tuple[str, ...] = ()) -> DataFrame:
    """One node family: ``key``/``attrs``/``types``/``scope`` are SQL
    expressions over ``e``; ``carry`` names columns of ``e`` copied over."""
    return e.selectExpr(
        f"{key} AS key",
        f"{sql_str(label)} AS label",
        f"{attrs} AS attributes",
        f"{types or _tmap()} AS attr_types",
        f"{scope or _NULL_STR} AS scope_key",
        *map(sql_ident, carry),
    )


def _rel(e: DataFrame, sk: str, sl: str, ek: str, el: str, typ: str,
         rtyp: str, attrs: str | None = None, types: str | None = None,
         scope: str | None = None, carry: tuple[str, ...] = ()) -> DataFrame:
    """One relation family, in the SQL-expression terms of :func:`_node`."""
    return e.selectExpr(
        f"{sk} AS start_key",
        f"{sql_str(sl)} AS start_label",
        f"{ek} AS end_key",
        f"{sql_str(el)} AS end_label",
        f"{sql_str(typ)} AS type",
        f"{sql_str(rtyp)} AS reverse_type",
        f"{attrs or _NULL_MAP} AS attributes",
        f"{types or _NULL_MAP} AS attr_types",
        f"{scope or _NULL_STR} AS scope_key",
        *map(sql_ident, carry),
    )


def _union(dfs: list[DataFrame]) -> DataFrame:
    return functools.reduce(lambda a, b: a.unionByName(b), dfs)


def nodes_from_entities(e: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """All graph nodes produced by a batch of extracted entity rows.

    Shared nodes repeat once per entity row (their payload is key-determined);
    the caller's keyed aggregate keeps one. ``carry`` names columns of ``e``
    copied onto every node row."""
    node = functools.partial(_node, carry=carry)
    scope = "table_key"
    keep = [sql_ident(c) for c in ("table_key", "lang", *carry)]
    cols = e.selectExpr(*keep, f"posexplode({_FN_ZIP}) AS (sort_order, p)").selectExpr(
        *keep, "sort_order", "p.fn AS fn_name", "p.cm AS fn_comment")

    shared = _union(
        [
            node(e, "database_key", "Database", _smap(name="database")),
            node(e, "cluster_key", "Cluster", _smap(name="cluster")),
            node(e, "schema_key", "Schema", _smap(name="repo")),
            # full_name = email: the changelog has no profile names; non-null
            # full_name keeps these users visible to the user search query
            # (reference filters `WHERE user.full_name IS NOT NULL`,
            # neo4j_search_data_extractor.py:72)
            node(e, "owner_email", "User",
                 _smap(email="owner_email", full_name="owner_email", is_active="true"),
                 _tmap(is_active="bool")),
        ]
    )

    scoped = _union(
        [
            node(
                e, "table_key", "Table",
                _smap(name="path", is_view="false", content_sha256="content_sha256",
                      commit="`commit`", lang="lang"),
                _tmap(is_view="bool"), scope,
            ),
            node(
                e.where("description IS NOT NULL"),
                "concat(table_key, '/_description')", "Description",
                _smap(description="description", description_source="'description'"),
                None, scope,
            ),
            node(
                cols, "concat(table_key, '/', fn_name)", "Column",
                _smap(name="fn_name", type="lang", sort_order="sort_order"),
                _tmap(sort_order="int"), scope,
            ),
            # per-column Description node (reference column description,
            # ``table_metadata.py:123-127,176-180``): key = {col_key}/_description
            node(
                cols.where("fn_comment IS NOT NULL"),
                "concat(table_key, '/', fn_name, '/_description')", "Description",
                _smap(description="fn_comment", description_source="'description'"),
                None, scope,
            ),
            node(
                e, "concat(table_key, '/timestamp')", "Timestamp",
                _smap(last_updated_timestamp="last_updated_epoch",
                      timestamp="last_updated_epoch",
                      name="'last_updated_timestamp'"),
                _tmap(last_updated_timestamp="int", timestamp="int"), scope,
            ),
            node(
                e, "concat(table_key, '/high_watermark/')", "Watermark",
                _smap(partition_key="'version'", partition_value="version",
                      create_time="event_ts"),
                None, scope,
            ),
        ]
    )
    return shared.unionByName(scoped)


def relations_from_entities(e: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """All graph relations (forward + reverse type pairs, stored once).
    Shared relations repeat per entity row and ``carry`` is copied, as in
    :func:`nodes_from_entities`."""
    rel = functools.partial(_rel, carry=carry)
    tkey = scope = "table_key"
    desc_key = "concat(table_key, '/_description')"
    keep = [sql_ident(c) for c in ("table_key", *carry)]
    cols = e.selectExpr(*keep, f"explode({_FN_ZIP}) AS p").selectExpr(
        *keep, "p.fn AS fn_name", "p.cm AS fn_comment")
    col_key = "concat(table_key, '/', fn_name)"

    shared = _union(
        [
            rel(e, "database_key", "Database", "cluster_key",
                "Cluster", "CLUSTER", "CLUSTER_OF"),
            rel(e, "cluster_key", "Cluster", "schema_key",
                "Schema", "SCHEMA", "SCHEMA_OF"),
        ]
    )

    scoped = _union(
        [
            rel(e, "schema_key", "Schema", tkey, "Table",
                "TABLE", "TABLE_OF", scope=scope),
            rel(e.where("description IS NOT NULL"), tkey, "Table",
                desc_key, "Description", "DESCRIPTION", "DESCRIPTION_OF", scope=scope),
            rel(cols, tkey, "Table", col_key, "Column",
                "COLUMN", "COLUMN_OF", scope=scope),
            rel(
                cols.where("fn_comment IS NOT NULL"),
                col_key, "Column",
                "concat(table_key, '/', fn_name, '/_description')", "Description",
                "DESCRIPTION", "DESCRIPTION_OF", scope=scope,
            ),
            rel(e, "owner_email", "User", tkey, "Table",
                "OWNER_OF", "OWNER", scope=scope),
            rel(e, tkey, "Table", "concat(table_key, '/timestamp')", "Timestamp",
                "LAST_UPDATED_AT", "LAST_UPDATED_TIME_OF", scope=scope),
            rel(e, "concat(table_key, '/high_watermark/')", "Watermark", tkey, "Table",
                "BELONG_TO_TABLE", "WATERMARK", scope=scope),
        ]
    )
    return shared.unionByName(scoped)


def usage_user_nodes(usage: DataFrame) -> DataFrame:
    """User nodes implied by a usage batch (reference ``TableColumnUsage``
    node iterator, ``databuilder/models/table_column_usage.py:72-78``:
    ``User(email=...)`` per reader). Input: (table_key, user_email, ...)."""
    u = usage.select("user_email").dropDuplicates(["user_email"])
    return _node(
        u, "user_email", "User",
        _smap(email="user_email", full_name="user_email", is_active="true"),
        _tmap(is_active="bool"),
    )


def usage_relations(usage: DataFrame) -> DataFrame:
    """Table-[READ_BY]->User relations with ``read_count`` (reference
    ``TableColumnUsage`` relation iterator,
    ``databuilder/models/table_column_usage.py:85-99``). Input rows:
    (table_key, user_email, read_count) — one row per pair (pre-aggregated)."""
    return _rel(
        usage, "table_key", "Table", "user_email", "User", "READ_BY", "READ",
        attrs=_smap(read_count="read_count"), types=_tmap(read_count="int"),
    )


def validate_nodes(nodes: DataFrame) -> DataFrame:
    """Reference validation (``graph_serializable.py:75-108``): key+label
    non-null, label title-cased in PYTHON ``str.istitle`` semantics — any
    non-letter starts a new word, so ``Programmatic_Description`` is valid
    (Spark ``initcap`` only splits on whitespace and would reject it)."""
    title = sql_str(r"^[^a-zA-Z]*[A-Z][a-z]*([^a-zA-Z]+[A-Z][a-z]*)*[^a-zA-Z]*$")
    return nodes.where(f"key IS NOT NULL AND label IS NOT NULL AND label RLIKE {title}")


def validate_relations(rels: DataFrame) -> DataFrame:
    """TYPE must be uppercase, labels title-cased, keys non-null."""
    return rels.where(
        "start_key IS NOT NULL AND end_key IS NOT NULL"
        " AND type = upper(type) AND reverse_type = upper(reverse_type)"
    )
