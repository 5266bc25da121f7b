"""Model expansion — entity rows fan out to graph nodes + relations.

Re-expresses the reference's ``GraphSerializable`` iterators
(``databuilder/models/graph_serializable.py:21-61``; ``TableMetadata``
expansion ``databuilder/models/table_metadata.py:334-503``; owner
``table_owner.py:59-95``; last-updated ``table_last_updated.py:74-107``;
watermark ``watermark.py:74-104``) as pure ``select``/``explode`` DataFrame
transforms unioned into long-format node/relation frames — unions are
plan-level (no shuffle). Shared Database/Cluster/Schema/User rows repeat once
per entity; the pipeline's keyed aggregate keeps one per key, equivalent to
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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
          types: Column | None = None, scope: Column | None = None,
          carry: tuple[str, ...] = ()) -> DataFrame:
    return e.select(
        key.alias("key"),
        F.lit(label).alias("label"),
        attrs.alias("attributes"),
        (types if types is not None else _tmap()).alias("attr_types"),
        (scope if scope is not None else F.lit(None).cast("string")).alias("scope_key"),
        *carry,
    )


def _rel(e: DataFrame, sk: Column, sl: str, ek: Column, el: str, typ: str,
         rtyp: str, attrs: Column | None = None, types: Column | None = None,
         scope: Column | None = None, carry: tuple[str, ...] = ()) -> DataFrame:
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
        (scope if scope is not None else F.lit(None).cast("string")).alias("scope_key"),
        *carry,
    )


def _union(dfs: list[DataFrame]) -> DataFrame:
    return functools.reduce(lambda a, b: a.unionByName(b), dfs)


def nodes_from_entities(e: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """All graph nodes produced by a batch of extracted entity rows.

    Shared nodes repeat once per entity row (their payload is key-determined);
    the caller's keyed aggregate keeps one. ``carry`` names columns of ``e``
    copied onto every node row."""
    node = functools.partial(_node, carry=carry)
    tkey = F.col("table_key")
    scope = tkey
    desc_key = F.concat(tkey, F.lit("/_description"))
    ts_key = F.concat(tkey, F.lit("/timestamp"))
    wm_key = F.concat(tkey, F.lit("/high_watermark/"))

    cols = e.select(
        "table_key", "lang", *carry,
        F.posexplode(
            F.zip_with(
                "functions", "fn_comments",
                lambda fn, cm: F.struct(fn.alias("fn"), cm.alias("cm")),
            )
        ).alias("sort_order", "p"),
    ).select(
        "table_key", "lang", "sort_order", *carry,
        F.col("p.fn").alias("fn_name"), F.col("p.cm").alias("fn_comment"),
    )

    shared = _union(
        [
            node(e, F.col("database_key"), "Database", _smap(name=F.col("database"))),
            node(e, F.col("cluster_key"), "Cluster", _smap(name=F.col("cluster"))),
            node(e, F.col("schema_key"), "Schema", _smap(name=F.col("repo"))),
            # full_name = email: the changelog has no profile names; non-null
            # full_name keeps these users visible to the user search query
            # (reference filters `WHERE user.full_name IS NOT NULL`,
            # neo4j_search_data_extractor.py:72)
            node(e, F.col("owner_email"), "User",
                 _smap(email=F.col("owner_email"),
                       full_name=F.col("owner_email"), is_active=F.lit(True)),
                 _tmap(is_active="bool")),
        ]
    )

    scoped = _union(
        [
            node(
                e, tkey, "Table",
                _smap(name=F.col("path"), is_view=F.lit(False),
                      content_sha256=F.col("content_sha256"),
                      commit=F.col("commit"), lang=F.col("lang")),
                _tmap(is_view="bool"), scope,
            ),
            node(
                e.where(F.col("description").isNotNull()), desc_key, "Description",
                _smap(description=F.col("description"),
                      description_source=F.lit("description")),
                None, scope,
            ),
            node(
                cols,
                F.concat(F.col("table_key"), F.lit("/"), F.col("fn_name")), "Column",
                _smap(name=F.col("fn_name"), type=F.col("lang"),
                      sort_order=F.col("sort_order")),
                _tmap(sort_order="int"), F.col("table_key"),
            ),
            # per-column Description node (reference column description,
            # ``table_metadata.py:123-127,176-180``): key = {col_key}/_description
            node(
                cols.where(F.col("fn_comment").isNotNull()),
                F.concat(F.col("table_key"), F.lit("/"), F.col("fn_name"),
                         F.lit("/_description")),
                "Description",
                _smap(description=F.col("fn_comment"),
                      description_source=F.lit("description")),
                None, F.col("table_key"),
            ),
            node(
                e, ts_key, "Timestamp",
                _smap(last_updated_timestamp=F.col("last_updated_epoch"),
                      timestamp=F.col("last_updated_epoch"),
                      name=F.lit("last_updated_timestamp")),
                _tmap(last_updated_timestamp="int", timestamp="int"), scope,
            ),
            node(
                e, wm_key, "Watermark",
                _smap(partition_key=F.lit("version"),
                      partition_value=F.col("version"),
                      create_time=F.col("event_ts")),
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
    tkey = F.col("table_key")
    scope = tkey
    desc_key = F.concat(tkey, F.lit("/_description"))
    ts_key = F.concat(tkey, F.lit("/timestamp"))
    wm_key = F.concat(tkey, F.lit("/high_watermark/"))

    cols = e.select(
        "table_key", *carry,
        F.explode(
            F.zip_with(
                "functions", "fn_comments",
                lambda fn, cm: F.struct(fn.alias("fn"), cm.alias("cm")),
            )
        ).alias("p"),
    ).select(
        "table_key", *carry,
        F.col("p.fn").alias("fn_name"), F.col("p.cm").alias("fn_comment"),
    )
    col_key = F.concat(F.col("table_key"), F.lit("/"), F.col("fn_name"))

    shared = _union(
        [
            rel(e, F.col("database_key"), "Database", F.col("cluster_key"),
                "Cluster", "CLUSTER", "CLUSTER_OF"),
            rel(e, F.col("cluster_key"), "Cluster", F.col("schema_key"),
                "Schema", "SCHEMA", "SCHEMA_OF"),
        ]
    )

    scoped = _union(
        [
            rel(e, F.col("schema_key"), "Schema", tkey, "Table",
                "TABLE", "TABLE_OF", scope=scope),
            rel(e.where(F.col("description").isNotNull()), tkey, "Table",
                desc_key, "Description", "DESCRIPTION", "DESCRIPTION_OF", scope=scope),
            rel(cols, F.col("table_key"), "Table", col_key, "Column",
                "COLUMN", "COLUMN_OF", scope=F.col("table_key")),
            rel(
                cols.where(F.col("fn_comment").isNotNull()),
                col_key, "Column",
                F.concat(col_key, F.lit("/_description")), "Description",
                "DESCRIPTION", "DESCRIPTION_OF", scope=F.col("table_key"),
            ),
            rel(e, F.col("owner_email"), "User", tkey, "Table",
                "OWNER_OF", "OWNER", scope=scope),
            rel(e, tkey, "Table", ts_key, "Timestamp",
                "LAST_UPDATED_AT", "LAST_UPDATED_TIME_OF", scope=scope),
            rel(e, wm_key, "Watermark", tkey, "Table",
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
        u, F.col("user_email"), "User",
        _smap(email=F.col("user_email"), full_name=F.col("user_email"),
              is_active=F.lit(True)),
        _tmap(is_active="bool"),
    )


def usage_relations(usage: DataFrame) -> DataFrame:
    """Table-[READ_BY]->User relations with ``read_count`` (reference
    ``TableColumnUsage`` relation iterator,
    ``databuilder/models/table_column_usage.py:85-99``). Input rows:
    (table_key, user_email, read_count) — one row per pair (pre-aggregated)."""
    return _rel(
        usage,
        F.col("table_key"), "Table",
        F.col("user_email"), "User",
        "READ_BY", "READ",
        attrs=_smap(read_count=F.col("read_count")),
        types=_tmap(read_count="int"),
    )


def validate_nodes(nodes: DataFrame) -> DataFrame:
    """Reference validation (``graph_serializable.py:75-108``): key+label
    non-null, label title-cased in PYTHON ``str.istitle`` semantics — any
    non-letter starts a new word, so ``Programmatic_Description`` is valid
    (Spark ``initcap`` only splits on whitespace and would reject it)."""
    return nodes.where(
        F.col("key").isNotNull()
        & F.col("label").isNotNull()
        & F.col("label").rlike(
            r"^[^a-zA-Z]*[A-Z][a-z]*([^a-zA-Z]+[A-Z][a-z]*)*[^a-zA-Z]*$")
    )


def validate_relations(rels: DataFrame) -> DataFrame:
    """TYPE must be uppercase, labels title-cased, keys non-null."""
    return rels.where(
        F.col("start_key").isNotNull()
        & F.col("end_key").isNotNull()
        & (F.col("type") == F.upper(F.col("type")))
        & (F.col("reverse_type") == F.upper(F.col("reverse_type")))
    )
