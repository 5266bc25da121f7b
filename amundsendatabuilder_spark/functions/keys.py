"""Entity key grammar — the deterministic URI-style key scheme of the graph.

Reproduces the key format strings of the reference models (they are the MERGE
keys of the whole engine):

* ``database://{db}``                      — reference ``databuilder/models/table_metadata.py:212``
* ``{db}://{cluster}``                     — ``table_metadata.py:217``
* ``{db}://{cluster}.{schema}``            — ``table_metadata.py:222``
* ``{db}://{cluster}.{schema}/{tbl}``      — ``table_metadata.py:205``
* ``{db}://{cluster}.{schema}/{tbl}/{col}``— ``table_metadata.py:158``
* ``{parent}/_description`` (or ``_{src}_description``) — ``table_metadata.py:84,123-127``
* ``{db}://{cluster}.{schema}/{tbl}/timestamp`` — ``table_last_updated.py:13-16``
* ``{db}://{cluster}.{schema}/{tbl}/{part_type}/`` — ``watermark.py:13-21``
* owner/user key = email                   — ``user.py:14-19``
* tag key = lower-cased trimmed tag        — ``table_metadata.py:20-27``

The CDC epoch builds its per-row keys as SQL text (``*_sql``, over SQL
expressions, spliced into ``selectExpr`` — the JVM parses it once); the
plain-string forms (``*_str``) serve the driver, tests and fixtures, and the
two agree. The catalog and dashboard models build the same grammar in their
own modules. For the CDC engine over the repo table, db=``repofs``, cluster=config,
schema=``repo``, table=``path``.
"""

from __future__ import annotations

from amundsendatabuilder_spark.functions.sqltext import sql_str

DATABASE = "repofs"
CLUSTER = "gold"


# ---- SQL-text forms (over SQL expressions; agree with the _str forms) -----

def schema_key_sql(schema: str, cluster: str = CLUSTER, db: str = DATABASE) -> str:
    return f"concat({sql_str(cluster_key_str(cluster, db) + '.')}, {schema})"


def table_key_sql(schema: str, table: str, cluster: str = CLUSTER,
                  db: str = DATABASE) -> str:
    return f"concat({sql_str(cluster_key_str(cluster, db) + '.')}, {schema}, '/', {table})"


# ---- plain-string forms (driver / tests / fixtures) ------------------------

def database_key_str(db: str = DATABASE) -> str:
    return f"database://{db}"


def cluster_key_str(cluster: str = CLUSTER, db: str = DATABASE) -> str:
    return f"{db}://{cluster}"


def schema_key_str(schema: str, cluster: str = CLUSTER, db: str = DATABASE) -> str:
    return f"{db}://{cluster}.{schema}"


def table_key_str(schema: str, table: str, cluster: str = CLUSTER,
                  db: str = DATABASE) -> str:
    return f"{db}://{cluster}.{schema}/{table}"


def column_key_str(schema: str, table: str, column: str, cluster: str = CLUSTER,
                   db: str = DATABASE) -> str:
    return f"{db}://{cluster}.{schema}/{table}/{column}"


def description_key_str(parent_key: str, source: str | None = None) -> str:
    return f"{parent_key}/_description" if source is None else f"{parent_key}/_{source}_description"


def tag_key_str(tag: str) -> str:
    return tag.strip().lower()
