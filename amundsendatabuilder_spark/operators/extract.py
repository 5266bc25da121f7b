"""Entity extraction — changelog upsert rows → enriched entity rows.

The reference extracts metadata entities record-at-a-time in Python model
constructors (``databuilder/models/table_metadata.py:193``); here the entire
extraction is Spark SQL expression text (regexp/sha2/higher-order array
functions — parsed once by the JVM, whole-stage codegen, zero Python per row
or per expression node), which is the vectorized-or-better version of the
input_hint's "pandas/Arrow UDFs, no per-row Python".

Mapping (SURVEY §1.2): db=``repofs``, cluster=``gold``, schema=``repo``,
table=``path``; per-file extracted functions ≈ columns; owner derived from
commit; version watermark from the content header; per-row invariant
``content_sha256 = sha2(content, 256)`` (hex, matches hashlib sha256).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from amundsendatabuilder_spark.functions import keys as K
from amundsendatabuilder_spark.functions.sqltext import sql_str

# function-definition patterns per language (generator emits python-style
# `def` for all langs; real-world patterns kept for the lang-aware path)
_FN_PATTERNS = {
    "go": r"func (\w+)",
    "scala": r"def (\w+)",
    "java": r"(?:void|int|String) (\w+)\(",
}
_DEFAULT_FN_PATTERN = r"def (\w+)\("
_COMMENT_PATTERN = r"return [^\n#]*#\s*([^\n]*)"
_VERSION_PATTERN = r" v(\d+)\n"


def extract_entities(upserts: DataFrame, cluster: str = K.CLUSTER) -> DataFrame:
    """Enrich LWW-deduped upsert rows with every derived entity feature the
    model expansion needs. Input: (repo, path, commit, lang, content,
    event_ts[, ...]); one row per (repo, path)."""
    pattern = "CASE " + " ".join(
        f"WHEN lang = {sql_str(lang)} THEN {sql_str(pat)}"
        for lang, pat in _FN_PATTERNS.items()
    ) + f" ELSE {sql_str(_DEFAULT_FN_PATTERN)} END"
    return (
        upserts.selectExpr(
            "*",
            f"regexp_extract_all(content, {pattern}, 1) AS __fn_raw",
            f"regexp_extract_all(content, {sql_str(_COMMENT_PATTERN)}, 1) AS __cm_raw",
        )
        # function names + their trailing body comments (≈ column descriptions,
        # reference ColumnMetadata.description / Column→Description nodes,
        # ``databuilder/models/table_metadata.py:156-190``). Dedup by name:
        # duplicate function names in one file would expand to duplicate
        # Column-node keys, and the keyed MERGE requires the batch to be
        # unique per key (ADVICE r01). First occurrence keeps its rank and
        # comment — deterministic. Comments align positionally only when
        # every function body carries one; otherwise descriptions are unknown.
        .selectExpr(
            "*",
            """filter(
                transform(__fn_raw, (fn, i) -> named_struct(
                    'fn', fn,
                    'comment', CASE WHEN size(__cm_raw) = size(__fn_raw)
                                    THEN element_at(__cm_raw, i + 1) END)),
                (p, i) -> array_position(__fn_raw, p.fn) = i + 1) AS __fn_pairs""",
        )
        .selectExpr(
            "*",
            f"{sql_str(K.DATABASE)} AS database",
            f"{sql_str(cluster)} AS cluster",
            f"{sql_str(K.database_key_str())} AS database_key",
            f"{sql_str(K.cluster_key_str(cluster))} AS cluster_key",
            f"{K.schema_key_sql('repo', cluster)} AS schema_key",
            f"{K.table_key_sql('repo', 'path', cluster)} AS table_key",
            "sha2(content, 256) AS content_sha256",
            f"substring_index(content, {sql_str(chr(10))}, 1) AS description",
            "__fn_pairs.fn AS functions",
            "__fn_pairs.comment AS fn_comments",
            f"""coalesce(CAST(nullif(regexp_extract(content, {sql_str(_VERSION_PATTERN)}, 1), '')
                              AS BIGINT), 0) AS version""",
            """concat('user_',
                      CAST(CAST(conv(substring(`commit`, 1, 4), 16, 10) AS BIGINT) % 50 AS STRING),
                      '@example.com') AS owner_email""",
            "unix_timestamp(event_ts) AS last_updated_epoch",
        )
        .drop("__fn_raw", "__cm_raw", "__fn_pairs")
    )
