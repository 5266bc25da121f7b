"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator inventory (SURVEY.md §2 + the
training-data ops) over the driver-provided parquet tables; ``oracle_sql()``
gives the DuckDB-equivalent SQL for the exact-match correctness gate.
Non-SQL-expressible entries (LSH/SimHash candidate generation, streaming
pipeline internals) are listed without an oracle (rows-only check);
everything else matches by row count + schema + value hash.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _doc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic changelog carved from the documents table: one event per
    doc; every 7th doc is a delete. Same derivation as the oracle SQL."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("event_id"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("event_ts"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("delete")).otherwise(F.lit("insert")).alias("op"),
        F.col("source").alias("repo"),
        F.concat(F.lit("doc_"), F.col("doc_id")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("text")).alias("content"),
        F.lit(0).alias("shard"),
    )


def _doc_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic usage deltas over the same doc-derived tables: two
    readers per doc — reader d%11 with count d%13+1, reader (3d+1)%11 with
    count d%5+1 (they coincide when d ≡ 5 mod 11). Same derivation as the
    oracle SQL."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc_"), F.col("doc_id")).alias("path"),
        F.col("doc_id"),
    )
    r1 = base.select(
        "repo", "path",
        F.concat(F.lit("reader_"), (F.col("doc_id") % 11), F.lit("@example.com")).alias("user_email"),
        (F.col("doc_id") % 13 + 1).cast("long").alias("read_count"),
    )
    r2 = base.select(
        "repo", "path",
        F.concat(F.lit("reader_"), ((F.col("doc_id") * 3 + 1) % 11), F.lit("@example.com")).alias("user_email"),
        (F.col("doc_id") % 5 + 1).cast("long").alias("read_count"),
    )
    return r1.unionByName(r2)


def _run_cdc(spark: SparkSession, sf_dir: str) -> "object":
    from amundsendatabuilder_spark.streaming.pipeline import CDCPipeline

    wh = tempfile.mkdtemp(prefix="cdc_wh_")
    pipe = CDCPipeline(spark, wh, n_buckets=16)
    pipe.apply_batch(_doc_changelog(spark, sf_dir), 0)
    pipe.apply_usage(_doc_usage(spark, sf_dir), 0)
    return pipe


# ---------------------------------------------------------------------------
# queries — reference-operator re-expressions (SURVEY.md §2)
# ---------------------------------------------------------------------------

def q_lww_latest_event(spark, sf_dir):
    """LWW window dedup (north-rule §4.1: row_number over key ordered desc)."""
    from amundsendatabuilder_spark.operators.dedup import lww_dedup

    e = _t(spark, sf_dir, "events")
    return lww_dedup(e, ["user_id"], ["ts", "event_id"]).select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.unix_timestamp("ts").alias("last_ts_epoch"),
    )


def q_cdc_final_state(spark, sf_dir):
    """Changelog replay semantics: LWW winner per key, delete wins ⇒ absent."""
    from amundsendatabuilder_spark.operators.dedup import lww_dedup_agg

    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value",
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update").alias("op"),
    )
    w = lww_dedup_agg(e, ["user_id"], ["ts", "event_id"])
    return w.where(F.col("op") != "delete").select(
        "user_id", F.col("op").alias("last_op"),
        F.col("value").alias("last_value"),
        F.unix_timestamp("ts").alias("last_ts_epoch"),
    )


def q_usage_agg(spark, sf_dir):
    """Hash aggregation with map-side combine (BigQueryUsageExtractor)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("read_count"),
            (F.sum(F.col("value").cast("decimal(18,2)")) * 100).cast("long").alias("total_value_cents"),
        )
    )


def q_watermark_minmax(spark, sf_dir):
    """Min/max watermark per partition prefix (BigQueryWatermarkExtractor)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.unix_timestamp(F.min("ts")).alias("low_watermark"),
            F.unix_timestamp(F.max("ts")).alias("high_watermark"),
        )
    )


def q_grouped_columns(spark, sf_dir):
    """Group-adjacent rows → ordered column list (HiveTableMetadataExtractor
    regroup / CsvTableColumnExtractor)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_cols"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.col("l_linenumber"))),
                    lambda x: x.cast("string"),
                ),
            ).alias("col_order"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


def q_search_doc_join(spark, sf_dir):
    """The search-document build: spine joins + left joins + aggregation
    (Neo4jSearchDataExtractor table query)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("total_usage"),
        F.countDistinct("o_orderpriority").alias("unique_usage"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long").alias("total_spent_cents"),
        F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus"))).alias("statuses"),
    )
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(agg, c["c_custkey"] == agg["o_custkey"], "left")
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            F.coalesce(F.col("total_usage"), F.lit(0)).alias("total_usage"),
            F.coalesce(F.col("unique_usage"), F.lit(0)).alias("unique_usage"),
            F.coalesce(F.col("total_spent_cents"), F.lit(0)).alias("total_spent_cents"),
            F.coalesce(F.col("statuses"), F.lit("")).alias("statuses"),
        )
    )


def q_anti_join_no_orders(spark, sf_dir):
    """NOT EXISTS anti-join (HiveTableLastUpdatedExtractor non-partitioned)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


def q_union_dedup(spark, sf_dir):
    """2-branch UNION with dedup (hive metastore partition/col union)."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.where(F.col("o_totalprice") > 200000).select("o_custkey")
    return a.union(b).distinct()


def q_timestamp_to_epoch(spark, sf_dir):
    """TimestampStringToEpoch: parse → epoch, failure → 0."""
    e = _t(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    s = e.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.col("event_type"),
    )
    return s.select(
        "event_id",
        F.coalesce(F.unix_timestamp(F.try_to_timestamp(F.col("ts_str"))), F.lit(0)).alias("epoch_ok"),
        F.coalesce(F.unix_timestamp(F.try_to_timestamp(F.col("event_type"))), F.lit(0)).alias("epoch_fail"),
    )


def q_tag_normalize(spark, sf_dir):
    """Tag normalization: split, trim, lower, dedup (TableMetadata._format_as_list)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split(F.lower(F.col("p_type")), " ")).alias("tag"))
        .where(F.length(F.trim(F.col("tag"))) > 0)
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("tag_count"))
    )


def q_key_template(spark, sf_dir):
    """Entity-key grammar / TemplateVariableSubstitutionTransformer."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.concat(
            F.lit("repofs://gold.cust_"), F.col("o_custkey"),
            F.lit("/order_"), F.col("o_orderkey"),
        ).alias("entity_key"),
    )


def q_literal_replace(spark, sf_dir):
    """RegexStrReplaceTransformer: LITERAL substring replace."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.expr("replace(text, 'batch', 'micro')")).alias("replaced_md5"),
    )


def q_stale_pct(spark, sf_dir):
    """Staleness-guard accounting: stale share per label
    (Neo4jStalenessRemovalTask count-by-type)."""
    e = _t(spark, sf_dir, "events")
    cutoff = "2024-01-15 00:00:00"
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((F.col("ts") < F.lit(cutoff)).cast("long")).alias("stale"),
        (
            F.sum((F.col("ts") < F.lit(cutoff)).cast("long"))
            / F.count(F.lit(1)).cast("double")
        ).alias("stale_pct"),
    )


# ---------------------------------------------------------------------------
# training-data ops
# ---------------------------------------------------------------------------

def q_exact_dedup(spark, sf_dir):
    from amundsendatabuilder_spark.functions.dedup import exact_duplicates

    return exact_duplicates(_t(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark, sf_dir):
    from amundsendatabuilder_spark.functions.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    # library-default stop-shingle pruning (max_posting=1000) stays ON — the
    # r01 override that disabled it was the exact all-pairs blowup the
    # docstring warns about; the oracle encodes the same pruned semantics
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.2)
    return pairs.select("id_a", "id_b", "jaccard")


def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates. Cross-engine-reproducible md5 hasher
    (60-bit) so the SQL oracle recomputes the IDENTICAL signatures, band
    buckets, candidate set, and estimates — full value-hash parity, not a
    rows-only check. The xxhash64 production path is covered by
    tests/test_functions.py recall/estimate assertions."""
    from amundsendatabuilder_spark.functions.dedup import minhash_lsh_candidates

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    out = minhash_lsh_candidates(d, k=32, bands=8, hasher="md5")
    return out.select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))


def q_simhash_near(spark, sf_dir):
    """SimHash near-dup pairs, md5 hasher. Blocking is pigeonhole-complete
    (max_hamming+1 segments), so the output EQUALS brute-force all-pairs at
    the threshold — which is exactly what the SQL oracle computes."""
    from amundsendatabuilder_spark.functions.dedup import simhash_near_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    out = simhash_near_pairs(d, max_hamming=8, hasher="md5")
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def q_embedding_topk(spark, sf_dir):
    from amundsendatabuilder_spark.functions.similarity import cosine_topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    out = cosine_topk_bruteforce(emb, q, k=5)
    return out.select(
        "query_id", "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_lang_id(spark, sf_dir):
    from amundsendatabuilder_spark.functions.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.col("lang").alias("actual"), lang_id(F.col("text")).alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_text_quality(spark, sf_dir):
    from amundsendatabuilder_spark.functions.text import (
        punct_ratio,
        quality_score,
        re_token_count,
        ws_token_count,
    )

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        ws_token_count(F.col("text")).alias("ws_tokens"),
        re_token_count(F.col("text")).alias("re_tokens"),
        F.floor(punct_ratio(F.col("text")) * 10000).cast("long").alias("punct_ratio_x1e4"),
        F.floor(quality_score(F.col("text")) * 10000).cast("long").alias("quality_x1e4"),
    )


def q_doc_fingerprint(spark, sf_dir):
    from amundsendatabuilder_spark.functions.text import doc_fingerprint

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))


def q_json_extract(spark, sf_dir):
    """JSONPath projection (RestApiQuery / get_json_object)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k_value"),
    )


def q_posexplode_columns(spark, sf_dir):
    """Positional explode with sort_order (GlueExtractor column+partition-key
    concatenation, glue_extractor.py:50-59)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.posexplode(F.split(F.col("p_type"), " ")).alias("sort_order", "word"),
    )


def q_base64_decode(spark, sf_dir):
    """base64 → JSON decode (PrestoViewMetadataExtractor :96-117 analog):
    encode a deterministic payload, decode it back, extract a field."""
    d = _t(spark, sf_dir, "documents")
    enc = F.base64(F.to_json(F.struct(F.col("doc_id").alias("id"), F.col("lang").alias("l"))).cast("binary"))
    return d.select(
        "doc_id",
        F.get_json_object(F.unbase64(enc).cast("string"), "$.l").alias("decoded_lang"),
    )


def q_dashboard_search_docs(spark, sf_dir):
    """Dashboard model family end-to-end: deterministic dashboard/query/
    chart/execution/usage fixture rows → the 8 expansions → graph frames →
    DashboardESDocument build (dashboard Cypher re-expression,
    neo4j_search_data_extractor.py:85-115). Oracle recomputes the documents
    directly from the same arithmetic."""
    from amundsendatabuilder_spark.operators import dashboard_models as dm

    dids = (
        _t(spark, sf_dir, "part")
        .select((F.col("p_partkey") % 40).alias("did"))
        .distinct()
    )
    g = F.col("did") % 8
    base = dids.select(
        "did",
        F.lit("mode").alias("product"),
        F.lit("gold").alias("cluster"),
        F.concat(F.lit("grp_"), g).alias("group_id"),
        F.concat(F.lit("Group "), g).alias("group_name"),
        F.concat(F.lit("https://g/"), g).alias("group_url"),
        F.when(g % 3 == 0, F.concat(F.lit("gdesc "), g)).alias("group_description"),
        F.concat(F.lit("dash_"), F.col("did")).alias("dashboard_id"),
        F.concat(F.lit("Dashboard "), F.col("did")).alias("dashboard_name"),
        F.when(F.col("did") % 5 != 0, F.concat(F.lit("desc "), F.col("did"))).alias("description"),
        (F.lit(1600000000) + F.col("did")).alias("created_timestamp"),
        F.concat(F.lit("https://d/"), F.col("did")).alias("dashboard_url"),
        F.array(F.lit("viz"), F.concat(F.lit("team_"), F.col("did") % 4)).alias("tags"),
    )
    qs = base.select(
        "product", "cluster", "group_id", "dashboard_id", "did",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("qi"),
    ).select(
        "product", "cluster", "group_id", "dashboard_id", "did",
        F.concat(F.lit("q"), F.col("qi")).alias("query_id"),
        F.concat(F.lit("Query "), (F.col("did") + F.col("qi")) % 6).alias("query_name"),
        F.concat(F.lit("https://q/"), F.col("did"), F.lit("/"), F.col("qi")).alias("url"),
        F.lit("SELECT 1").alias("query_text"),
        F.col("qi"),
    )
    charts = qs.select(
        "product", "cluster", "group_id", "dashboard_id", "query_id",
        F.lit("c1").alias("chart_id"),
        F.concat(F.lit("Chart "), (F.col("did") + F.col("qi")) % 4).alias("chart_name"),
        F.lit("bar").alias("chart_type"),
        F.lit(None).cast("string").alias("chart_url"),
    )
    execs = base.select(
        "product", "cluster", "group_id", "dashboard_id",
        F.lit("_last_successful_execution").alias("execution_id"),
        (F.lit(1700000000) + F.col("did")).alias("timestamp"),
        F.lit("succeeded").alias("state"),
    )
    usage = base.select(
        "product", "cluster", "group_id", "dashboard_id", "did",
        F.explode(
            F.array(
                F.struct(
                    F.concat(F.lit("du"), F.col("did") % 3, F.lit("@x.com")).alias("email"),
                    (F.col("did") % 9 + 1).alias("view_count"),
                ),
                F.struct(
                    F.concat(F.lit("du"), (F.col("did") + 1) % 3, F.lit("@x.com")).alias("email"),
                    (F.col("did") % 4 + 2).alias("view_count"),
                ),
            )
        ).alias("u"),
    ).select("product", "cluster", "group_id", "dashboard_id",
             F.col("u.email").alias("email"), F.col("u.view_count").alias("view_count"))

    nodes = (
        dm.dashboard_metadata_nodes(base)
        .unionByName(dm.dashboard_query_nodes(qs))
        .unionByName(dm.dashboard_chart_nodes(charts))
        .unionByName(dm.dashboard_execution_nodes(execs))
        .unionByName(dm.dashboard_usage_user_nodes(usage))
    )
    rels = (
        dm.dashboard_metadata_relations(base)
        .unionByName(dm.dashboard_query_relations(qs.drop("did", "qi")))
        .unionByName(dm.dashboard_chart_relations(charts))
        .unionByName(dm.dashboard_execution_relations(execs))
        .unionByName(dm.dashboard_usage_relations(usage))
    )
    docs = dm.dashboard_docs_from_graph(nodes, rels)
    return docs.select(
        "uri", "name", "group_name", "product", "cluster",
        "description", "group_description", "group_url", "url",
        "last_successful_run_timestamp", "total_usage",
        F.concat_ws("|", "query_names").alias("query_names"),
        F.concat_ws("|", "chart_names").alias("chart_names"),
        F.concat_ws("|", "tags").alias("tags"),
    )


def q_user_search_docs(spark, sf_dir):
    """UserESDocument build over the CDC graph (user search Cypher,
    neo4j_search_data_extractor.py:64-83): owners + readers with
    total_read / total_own aggregates, plus manager_email flowing through the
    User model's MANAGE_BY relation wire format (user.py:33-34) — a
    deterministic org chart (reader_k reports to reader_{(k+1)%11}) is built
    via ``user_relations`` so the oracle value-checks the relation type."""
    from amundsendatabuilder_spark.operators.amundsen_models import user_relations
    from amundsendatabuilder_spark.operators.search_docs import user_docs_from_graph

    pipe = _run_cdc(spark, sf_dir)
    org = spark.range(11).select(
        F.concat(F.lit("reader_"), F.col("id"), F.lit("@example.com")).alias("email"),
        F.concat(F.lit("reader_"), (F.col("id") + 1) % 11,
                 F.lit("@example.com")).alias("manager_email"),
    )
    rels = pipe.graph_relations.read().unionByName(
        user_relations(org).drop("scope_key"), allowMissingColumns=True
    )
    docs = user_docs_from_graph(pipe.graph_nodes.read(), rels)
    return docs.select("email", "full_name", "is_active", "manager_email",
                       "total_read", "total_own", "total_follow")


# ---------------------------------------------------------------------------
# the CDC engine end-to-end (flagship)
# ---------------------------------------------------------------------------

def q_cdc_replay_tables(spark, sf_dir):
    """Full engine run: changelog → LWW dedup → extraction → bucketed CoW
    MERGE → final repo_files state. Oracle recomputes the same final state
    declaratively."""
    pipe = _run_cdc(spark, sf_dir)
    return pipe.current_entities().select(
        "repo", "path", "commit", "content_sha256",
        F.col("last_updated_epoch").alias("last_updated_epoch"),
    )


def q_cdc_search_docs(spark, sf_dir):
    """Search documents merged by the same engine run — including the READ
    usage aggregates (SUM read_count / COUNT DISTINCT reader) wired through
    the usage channel (reference neo4j_search_data_extractor.py:40-42)."""
    pipe = _run_cdc(spark, sf_dir)
    return pipe.search_documents.read().select(
        "key", "schema", "name",
        F.concat_ws("|", F.col("tags")).alias("tags"),
        "last_updated_timestamp",
        "total_usage", "unique_usage",
    )


def q_cdc_changes(spark, sf_dir):
    """Incremental change feed (lake as a CDC SOURCE): replay two epochs of
    a doc changelog, then diff the search_documents table's two committed
    snapshots with SnapshotTable.changes — insert/update/delete per key,
    post-image on insert/update, pre-image on delete (Delta CDF / Iceberg
    changelog-scan semantics; the reference's downstream consumers re-scan
    the whole graph, neo4j_search_data_extractor.py:24-42 — this is the
    O(changed-keys) replacement). Only buckets whose manifest file lists
    differ between the snapshots are scanned. The oracle recomputes the same
    diff declaratively from the two epochs' event derivations."""
    from amundsendatabuilder_spark.streaming.pipeline import CDCPipeline

    d = _t(spark, sf_dir, "documents")
    base_cols = [
        F.col("source").alias("repo"),
        F.col("lang"),
        F.lit(0).alias("shard"),
    ]
    e0 = d.select(
        F.col("doc_id").alias("event_id"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("event_ts"),
        F.lit("insert").alias("op"),
        *base_cols,
        F.concat(F.lit("doc_"), F.col("doc_id")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("text").alias("content"),
    )
    ts1 = (F.to_timestamp(F.lit("2024-02-01 00:00:00"))
           + F.make_interval(secs=F.col("doc_id").cast("double")))
    dels = d.where(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("event_id"), ts1.alias("event_ts"),
        F.lit("delete").alias("op"), *base_cols,
        F.concat(F.lit("doc_"), F.col("doc_id")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.lit(None).cast("string").alias("content"),
    )
    upds = d.where((F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 7 != 0)).select(
        F.col("doc_id").alias("event_id"), ts1.alias("event_ts"),
        F.lit("insert").alias("op"), *base_cols,
        F.concat(F.lit("doc_"), F.col("doc_id")).alias("path"),
        F.md5(F.concat(F.col("text"), F.lit(":v2"))).alias("commit"),
        F.concat(F.col("text"), F.lit(":v2")).alias("content"),
    )
    news = d.where(F.col("doc_id") % 9 == 0).select(
        F.col("doc_id").alias("event_id"), ts1.alias("event_ts"),
        F.lit("insert").alias("op"), *base_cols,
        F.concat(F.lit("docx_"), F.col("doc_id")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("text").alias("content"),
    )
    wh = tempfile.mkdtemp(prefix="cdc_ch_")
    pipe = CDCPipeline(spark, wh, n_buckets=16)
    pipe.apply_batch(e0, 0)
    v1 = pipe.search_documents.current().version
    pipe.apply_batch(dels.unionByName(upds).unionByName(news), 1)
    v2 = pipe.search_documents.current().version
    return pipe.search_documents.changes(v1, v2).select(
        "key", "schema", "name",
        F.concat_ws("|", F.col("tags")).alias("tags"),
        "last_updated_timestamp",
        F.col("_change_type").alias("change_type"),
    )


def q_lake_read_where(spark, sf_dir):
    """Predicate scan planning over the lake: read_where prunes data files
    by the per-file column bounds recorded in manifests (Iceberg metadata
    file filtering) and then applies the same predicates as real pushed-down
    Spark filters, so the answer is exact whatever the stats coverage. Runs
    a key-range + tombstone-excluding conjunction over the replayed
    repo_files table; the oracle recomputes it declaratively (string BETWEEN
    is plain UTF-8 comparison in both engines)."""
    pipe = _run_cdc(spark, sf_dir)
    rows = pipe.repo_files.read_where([
        ("path", "between", ("doc_100", "doc_199")),
        ("is_deleted", "=", False),
    ])
    return rows.select(
        "repo", "path", "commit", "content_sha256",
        F.col("last_updated_epoch").alias("last_updated_epoch"),
    )


def q_metastore_regroup(spark, sf_dir):
    """JDBC metadata-extractor regroup: per-column warehouse rows → ordered
    TableMetadata rows (HiveTableMetadataExtractor regroup,
    hive_table_metadata_extractor.py:133-160; shared by all 11 dialects).
    The per-column frame is derived deterministically from `part` — in prod
    it comes from sources.jdbc.metadata_scan over a live metastore."""
    from amundsendatabuilder_spark.sources.jdbc import regroup_to_table_metadata

    p = _t(spark, sf_dir, "part")
    rows = p.select(
        F.lit("repometa").alias("database"),
        F.lit("gold").alias("cluster"),
        F.concat(F.lit("s_"), F.col("p_partkey") % 3).alias("schema"),
        F.concat(F.lit("t_"), F.col("p_partkey") % 50).alias("name"),
        F.lit(None).cast("string").alias("description"),
        F.concat(F.lit("c_"), F.col("p_partkey")).alias("col_name"),
        F.col("p_brand").alias("col_description"),
        F.lower(F.substring_index(F.col("p_type"), " ", 1)).alias("col_type"),
        F.col("p_partkey").alias("col_sort_order"),
        F.lit(False).alias("is_view"),
    )
    tm = regroup_to_table_metadata(rows)
    return tm.select(
        "schema", "name",
        F.size("columns").cast("long").alias("n_cols"),
        F.concat_ws(",", F.col("columns.name")).alias("col_names"),
        F.concat_ws(",", F.col("columns.col_type")).alias("col_types"),
    )


def q_catalog_scan(spark, sf_dir):
    """Spark-catalog metadata scan (DeltaLakeMetadataExtractor,
    delta_lake_metadata_extractor.py:118,200-276): deterministic catalog
    fixture tables → DESCRIBE EXTENDED scrape → standard per-column contract.
    The oracle is the literal expected contract (the fixture is fully
    deterministic), value-checking descriptions, partition tagging, view
    typing, and sort order."""
    from amundsendatabuilder_spark.sources.spark_catalog import catalog_metadata_scan

    spark.sql("CREATE DATABASE IF NOT EXISTS oracle_cat")
    spark.sql("DROP TABLE IF EXISTS oracle_cat.repo_files_meta")
    spark.sql(
        "CREATE TABLE oracle_cat.repo_files_meta (repo STRING COMMENT 'repo slug', "
        "path STRING, commit STRING, lang STRING, content STRING, ds STRING) "
        "USING parquet PARTITIONED BY (ds) COMMENT 'repo files'"
    )
    spark.sql("DROP VIEW IF EXISTS oracle_cat.langs_v")
    spark.sql(
        "CREATE VIEW oracle_cat.langs_v AS "
        "SELECT lang, count(*) AS n FROM oracle_cat.repo_files_meta GROUP BY lang"
    )
    scan = catalog_metadata_scan(spark, database="delta", cluster="gold",
                                 schema_list=["oracle_cat"])
    return scan.select(
        "database", "cluster", "schema", "name",
        F.coalesce("description", F.lit("")).alias("description"),
        "col_name",
        F.coalesce("col_description", F.lit("")).alias("col_description"),
        "col_type",
        F.col("col_sort_order").cast("long").alias("col_sort_order"),
        "is_view", "is_partition")


def q_cdc_usage_rels(spark, sf_dir):
    """READ_BY relations merged by the usage channel: Table-[READ_BY]->User
    with accumulated read_count (TableColumnUsage expansion,
    databuilder/models/table_column_usage.py:85-99)."""
    pipe = _run_cdc(spark, sf_dir)
    rels = pipe.graph_relations.read().where(F.col("type") == "READ_BY")
    return rels.select(
        "start_key",
        F.col("end_key").alias("user_email"),
        F.col("attributes")["read_count"].cast("long").alias("read_count"),
    )


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full CDC replay over sf0.001, return graph Table nodes."""
    pipe = _run_cdc(spark, "/root/testdata/sf0.001")
    nodes = pipe.graph_nodes.read()
    return nodes.where(F.col("label") == "Table").select(
        "key", "label",
        F.col("attributes")["name"].alias("name"),
        F.col("attributes")["content_sha256"].alias("content_sha256"),
    )


def q_presto_view_decode(spark, sf_dir):
    """Presto view decode chain (presto_view_metadata_extractor.py:93-116):
    build a deterministic '/* Presto View: <b64 json> */' fence per
    document row, run the COLUMNAR decode (substring_index → unbase64 →
    from_json → posexplode), and land per-column contract rows. The oracle
    computes the expected output directly from the same source columns —
    the encode→decode round trip must be the identity."""
    from amundsendatabuilder_spark.sources.jdbc import presto_view_scan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payload = F.base64(F.to_json(F.struct(F.array(
        F.struct(F.lit("c0").alias("name"), F.col("lang").alias("type")),
        F.struct(F.lit("c1").alias("name"), F.lit("varchar").alias("type")),
    ).alias("columns"))).cast("binary"))
    rows = docs.select(
        F.col("source").alias("schema"),
        F.concat(F.lit("v_"), F.col("doc_id")).alias("name"),
        F.concat(F.lit("/* Presto View: "), payload,
                 F.lit(" */")).alias("view_original_text"),
    )
    out = presto_view_scan(spark, rows=rows, cluster="gold")
    return out.select(
        "database", "cluster", "schema", "name", "col_name", "col_type",
        F.col("col_sort_order").cast("long").alias("col_sort_order"),
        "is_view",
    )


def q_atlas_mapping(spark, sf_dir):
    """Atlas declarative field-mapping spec (atlas_search_data_extractor.py:
    81-103,291-309): build a deterministic Atlas 'Table' entity JSON per
    document row, run the columnar spec compiler
    (sources/atlas_search.mapping_spec_select), and check every mapped
    field — qualifiedName splits, ms→s, truthiness defaults (uniqueUsage 0
    → 1), ACTIVE-only column/classification filters — against an oracle
    that computes the expected values directly."""
    from amundsendatabuilder_spark.sources.atlas_search import (
        TABLE_ENTITY_SCHEMA,
        TABLE_FIELDS_MAPPING_SPEC,
        mapping_spec_select,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    entity_json = F.to_json(F.struct(
        F.lit("hive_table").alias("typeName"),
        (F.col("doc_id") * 1000 + 1700000000000).alias("updateTime"),
        F.array(F.col("lang")).alias("tags"),
        F.array(F.struct(F.lit("gold").alias("typeName"),
                         F.lit("ACTIVE").alias("entityStatus"))
                ).alias("classifications"),
        F.struct(
            F.concat(F.col("source"), F.lit(".t"), F.col("doc_id"),
                     F.lit("@cl1")).alias("qualifiedName"),
            F.concat(F.lit("t"), F.col("doc_id")).alias("name"),
            F.lit("d").alias("description"),
            (F.col("n_chars") % 7).cast("double").alias("popularityScore"),
            (F.col("doc_id") % 3).cast("long").alias("uniqueUsage"),
            F.create_map(F.lit("sourceDescription"),
                         F.col("source")).alias("parameters"),
        ).alias("attributes"),
        F.struct(
            F.struct(F.col("source").alias("displayText")).alias("db"),
            F.array(
                F.struct(F.lit("ACTIVE").alias("status"),
                         F.struct(F.lit("cA").alias("name"),
                                  F.lit("descA").alias("description")
                                  ).alias("attributes")),
                F.struct(F.lit("DELETED").alias("status"),
                         F.struct(F.lit("cB").alias("name"),
                                  F.lit(None).cast("string").alias("description")
                                  ).alias("attributes")),
            ).alias("columns"),
        ).alias("relationshipAttributes"),
    ))
    e = F.from_json(entity_json, TABLE_ENTITY_SCHEMA).alias("e")
    out = docs.select(e).select(
        *mapping_spec_select(TABLE_FIELDS_MAPPING_SPEC, F.col("e")))
    return out.select(
        "database", "cluster", "schema", "name", "key", "description",
        "last_updated_timestamp", "total_usage", "unique_usage",
        "display_name", "schema_description",
        F.array_join("column_names", ",").alias("column_names"),
        F.array_join("column_descriptions", ",").alias("column_descriptions"),
        F.array_join("badges", ",").alias("badges"),
        F.array_join("tags", ",").alias("tags"),
        F.array_join("programmatic_descriptions", ",").alias(
            "programmatic_descriptions"),
    )


def q_feast_columns(spark, sf_dir):
    """Feast Core registry scan (feast_extractor.py:71-100): a deterministic
    registry synthesized from ``nation`` (projects = regions, one feature
    table per nation, entity key first then features with the sort order
    continuing across the two groups) run through ``feast_metadata_scan``;
    the oracle recomputes the same per-column contract in SQL. Registry
    listing is bounded driver-side metadata traffic, like the reference's
    Feast Core client walk."""
    from amundsendatabuilder_spark.sources.api_scans import feast_metadata_scan

    nations = sorted(
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select("n_nationkey", "n_name", "n_regionkey").collect(),
        key=lambda r: r["n_nationkey"],
    )
    by_proj: dict[str, list] = {}
    for r in nations:
        by_proj.setdefault(f"proj_{r['n_regionkey']}", []).append(r)

    def list_projects():
        return sorted(by_proj)

    def list_feature_tables(project):
        return [
            {
                "name": f"ft_{r['n_name'].lower()}",
                "entities": [f"ent_{r['n_nationkey']}"],
                "features": [
                    {"name": f"f{k}", "dtype": "FLOAT"}
                    for k in range(r["n_nationkey"] % 3 + 1)
                ],
            }
            for r in by_proj[project]
        ]

    def get_entity(name, project):
        return {"name": name, "description": f"key for {project}",
                "value_type": "STRING"}

    scan = feast_metadata_scan(spark, list_projects, list_feature_tables,
                               get_entity, instance_name="feast_main")
    return scan.select(
        "database", "cluster", "schema", "name", "col_name",
        F.coalesce("col_description", F.lit("")).alias("col_description"),
        "col_type",
        F.col("col_sort_order").cast("long").alias("col_sort_order"),
        "is_view", "is_partition",
    )


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate dedup (the embedding sibling of
    minhash/simhash): IVF-style label-blocked candidate pairs with an exact
    integer-quantized cosine >= 0.3 test (functions/similarity.
    embedding_neardup_pairs). Quantized integer arithmetic makes the
    threshold decision bit-identical between Spark and the SQL oracle —
    no float summation-order drift."""
    from amundsendatabuilder_spark.functions.similarity import (
        embedding_neardup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_neardup_pairs(emb).select(
        "id_a", "id_b", F.col("label").cast("long").alias("label"))


def q_sessionize_events(spark, sf_dir):
    """Gaps-and-islands sessionization of the event log (30-min inactivity
    gap): one shuffle on user_id shared by both windows and the final agg
    (functions/sessionize.sessionize_events). Integer epoch-micros gap
    math; value sums ship as integer cents (BIGINT) — the same idiom as
    every passing money query — so no cross-engine DECIMAL representation
    surface remains."""
    from amundsendatabuilder_spark.functions.sessionize import (
        sessionize_events,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize_events(ev).select(
        "user_id", F.col("session_seq").cast("long").alias("session_seq"),
        "start_us", "end_us", "n_events",
        F.expr("CAST(sum_value * 100 AS BIGINT)").alias("sum_value_cents"))


def q_dedup_components(spark, sf_dir):
    """Dedup-cluster canonicalization: SimHash hamming<=1 near-dup pairs
    (functions/dedup.simhash_near_pairs) fed into distributed connected
    components (functions/components.connected_components — alternating
    large-star/small-star, O(log n) shuffle rounds regardless of cluster
    diameter).  Component label = min doc_id reachable; the DuckDB oracle
    recomputes it as a recursive-CTE transitive closure."""
    from amundsendatabuilder_spark.functions.components import (
        connected_components,
    )
    from amundsendatabuilder_spark.functions.dedup import simhash_near_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    pairs = simhash_near_pairs(d, max_hamming=1, hasher="md5",
                               max_candidate_pairs=None)
    return connected_components(pairs, src="id_a", dst="id_b")


def q_asof_signup(spark, sf_dir):
    """As-of join (functions/asof.asof_join): every non-signup event
    aligned to the user's latest signup at or before it — the union-tag
    single-shuffle plan (O(|L|+|R|), no per-key range explosion) vs
    DuckDB's native ASOF LEFT JOIN as the oracle."""
    from amundsendatabuilder_spark.functions.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") != "signup").select(
        "event_id", "user_id", "ts")
    right = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_event_id"), "user_id", "ts")
    out = asof_join(left, right, key="user_id",
                    right_cols=["signup_event_id"])
    # parquet event ts is TIMESTAMP_NTZ: timezone-independent micros
    ts_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    return out.select(
        "event_id", "user_id",
        ts_us.alias("ts_us"),
        F.coalesce(F.col("ts_r"), F.lit(-1)).alias("signup_us"),
        F.coalesce(F.col("signup_event_id_r"), F.lit(-1))
            .alias("signup_event_id"),
    )


def q_range_join_events(spark, sf_dir):
    """Range (interval) join (functions/ranges.range_join): every event
    matched to the 1-hour exposure windows opened by its user's
    event_id%11==0 events — the binned equi-join plan (bounded interval
    fan-out, ONE hash shuffle, no BroadcastNestedLoopJoin) vs DuckDB's
    native inequality join as the oracle."""
    from amundsendatabuilder_spark.functions.ranges import range_join

    ev = _t(spark, sf_dir, "events")
    intervals = ev.where(F.col("event_id") % 11 == 0).select(
        F.col("event_id").alias("interval_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        F.expr("ts + INTERVAL 1 HOUR").alias("end_ts"),
    )
    pts = ev.select("event_id", "user_id", "ts")
    out = range_join(pts, intervals, key="user_id", ts_col="ts",
                     right_cols=["interval_id"],
                     bin_width_us=3_600_000_000)
    ts_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    return out.select(
        "event_id",
        F.col("interval_id_r").alias("interval_id"),
        "user_id",
        ts_us.alias("ts_us"),
        F.col("start_ts_us_r").alias("start_us"),
    )


def q_rollup_daily(spark, sf_dir):
    """Hypertable-style rollup cascade (functions/rollup): hourly
    continuous aggregate from raw events, daily re-aggregated from the
    HOURLY level (never re-reading raw) — decomposable parts
    (count/sum/min/max in integer cents) make the cascade bit-identical
    to DuckDB's direct raw→daily aggregate."""
    from amundsendatabuilder_spark.functions.rollup import (
        DAY_US, HOUR_US, coarsen, time_rollup)

    ev = _t(spark, sf_dir, "events")
    hourly = time_rollup(ev, ts_col="ts", bucket_us=HOUR_US,
                         keys=["event_type"], value_col="value")
    daily = coarsen(hourly, DAY_US, keys=["event_type"])
    return daily.select("bucket_us", "event_type", "n_rows",
                        "sum_cents", "min_cents", "max_cents")


def q_doc_chunks(spark, sf_dir):
    """Overlapping token-window chunking (functions/curation.
    chunk_documents, size=32 stride=24): shuffle-free per-row explode —
    the map-side op a 100 TB corpus-to-context-window pass needs."""
    from amundsendatabuilder_spark.functions.curation import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, size=32, stride=24)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (functions/curation.decontaminate):
    docs with doc_id % 97 == 0 act as the eval set; every other doc is
    scored by distinct shared 5-gram shingles via a broadcast hash probe
    of the (small) benchmark shingle set."""
    from amundsendatabuilder_spark.functions.curation import decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 97 == 0)
    train = d.where(F.col("doc_id") % 97 != 0)
    return decontaminate(train, bench, n=5)


def q_pii_scrub(spark, sf_dir):
    """PII redaction (functions/curation.pii_scrub): deterministic fake
    PII (email + SSN-shaped + phone-shaped) appended to each doc, then
    scrubbed by the JVM-side regexp_replace chain; output is the md5 of
    the scrubbed text plus per-rule match counts, bit-identical to the
    DuckDB RE2 oracle (patterns stay in the RE2 ∩ java.util.regex
    common subset)."""
    from amundsendatabuilder_spark.functions.curation import pii_scrub

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    ssn = F.concat(
        (did % 900 + 100).cast("string"), F.lit("-"),
        F.lpad((did % 100).cast("string"), 2, "0"), F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"))
    phone = F.when(
        did % 3 == 0,
        F.concat(F.lit(" ph +1-"), (did % 900 + 100).cast("string"),
                 F.lit("-555-"),
                 F.lpad((did % 10000).cast("string"), 4, "0")),
    ).otherwise(F.lit(""))
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact reader_"),
            (did % 11).cast("string"), F.lit("@example.com ssn "),
            ssn, phone,
        ).alias("text"),
    )
    out = pii_scrub(aug)
    return out.select(
        "doc_id", F.md5(F.col("scrubbed")).alias("clean_md5"),
        "n_email", "n_ssn", "n_phone")


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum Bernoulli sampling (functions/curation.
    stratified_sample): keep iff md5(salt|doc_id) mod 100 < the lang's
    rate — stable under repartitioning and replay resume, unlike
    df.sample's per-partition seeds.  Pure filter, no shuffle."""
    from amundsendatabuilder_spark.functions.curation import (
        stratified_sample,
    )

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(
        d, strata_col="lang", rates={"en": 50, "zh": 25},
        default_rate=10, key_col="doc_id", salt="s1",
    ).select("doc_id", "lang")


def q_column_profile(spark, sf_dir):
    """Spark-native column profiling (sources/profiler.profile_columns):
    min/max/null_count/distinct_count for three documents columns in ONE
    aggregation pass, emitted in the reference's TableColumnStats shape
    (table_stats.py:11-106) ready for the Stat-node contract."""
    from amundsendatabuilder_spark.sources.profiler import profile_columns

    d = _t(spark, sf_dir, "documents")
    return profile_columns(
        d, ["lang", "source", "n_chars"],
        db="repofs", cluster="gold", schema="docs", table_name="documents")


def q_dedup_canonical(spark, sf_dir):
    """End-to-end near-dup dedup: SimHash pairs → connected components →
    one canonical doc per cluster (functions/components.
    canonical_per_component — keep the longest member, ties to smallest
    id).  The keep-list a curation pipeline would anti-join against."""
    from amundsendatabuilder_spark.functions.components import (
        canonical_per_component,
        connected_components,
    )
    from amundsendatabuilder_spark.functions.dedup import simhash_near_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    pairs = simhash_near_pairs(d, max_hamming=1, hasher="md5",
                               max_candidate_pairs=None)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return canonical_per_component(comp, d, prefer=["n_chars"])


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary build (functions/text.vocab_topk): top-100 terms
    by document frequency, tie-broken by term.  Distinct-per-doc explode
    + partial/final count; the top-k window runs on the tiny aggregated
    term frame, not the postings."""
    from amundsendatabuilder_spark.functions.text import vocab_topk

    return vocab_topk(_t(spark, sf_dir, "documents"), k=100)


def q_tfidf_top_terms(spark, sf_dir):
    """Per-doc top-3 TF-IDF terms (functions/text.tfidf_top_terms) with
    the integer idf proxy floor(1e6 * n_docs / doc_freq) — bit-identical
    ranking across engines (no float ln)."""
    from amundsendatabuilder_spark.functions.text import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def q_paragraph_dedup(spark, sf_dir):
    """Cross-corpus paragraph-level dedup (functions/dedup.paragraph_dedup,
    RefinedWeb-style keep-first over 5-word blocks): shuffle-free block
    explode, one window shuffle keyed by block text, one partial-agg
    rollup per doc.  Integer permille output — no float surface."""
    from amundsendatabuilder_spark.functions.dedup import paragraph_dedup

    return paragraph_dedup(_t(spark, sf_dir, "documents"), block_words=5)


def q_repetition_signals(spark, sf_dir):
    """Gopher-style within-doc repetition quality signals
    (functions/text.repetition_signals): per-row higher-order-function
    token/bigram stats plus a two-stage partial-agg mode count for the
    top word — the repetition filter a MassiveText-scale curation pass
    runs before training."""
    from amundsendatabuilder_spark.functions.text import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


def q_sessions_channel(spark, sf_dir):
    """The exactly-once 'sessions' pipeline channel
    (streaming/pipeline.CDCPipeline.apply_sessions): the event log is
    split at its exact median timestamp into two time-ordered epochs and
    replayed through the lake channel (open-session state merge across
    the epoch boundary, bucket-pruned point lookups, epoch ledger).  The
    accumulated ``user_sessions`` table must equal the one-shot batch
    sessionization -- same oracle SQL as ``sessionize_events``."""
    import shutil

    from amundsendatabuilder_spark.streaming.pipeline import CDCPipeline

    ev = _t(spark, sf_dir, "events")
    # NTZ-safe integer micros (same contract as functions/sessionize)
    us = ("timestampdiff(MICROSECOND,"
          " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    cut = ev.select(
        F.expr(f"CAST(percentile({us}, 0.5) AS BIGINT)").alias("c")
    ).first()["c"]
    e1 = ev.where(F.expr(us) <= F.lit(cut))
    e2 = ev.where(F.expr(us) > F.lit(cut))
    work = tempfile.mkdtemp(prefix="sess_channel_")
    try:
        pipe = CDCPipeline(spark, work, n_buckets=16)
        pipe.apply_sessions(e1, 0)
        pipe.apply_sessions(e2, 1)
        return (
            pipe.user_sessions.read()
            .select("user_id", "session_seq", "start_us", "end_us",
                    "n_events", F.col("sum_cents").alias("sum_value_cents"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_streaming_sessions(spark, sf_dir):
    """Streaming sessionization (streaming/sessions.streaming_sessionize,
    applyInPandasWithState): the event log is replayed through a real
    checkpointed Structured-Streaming query (two availableNow drains —
    the second adds a far-future sentinel event whose watermark flushes
    every open session via event-time timeout), and the emitted sessions
    must equal the batch operator's output exactly — same oracle SQL as
    ``sessionize_events``.  The watermark delay is set to cover the whole
    replayed history so arrival order cannot drop events; production
    streams use a tight delay instead."""
    import os
    import shutil

    from amundsendatabuilder_spark.streaming.sessions import (
        streaming_sessionize,
    )

    work = tempfile.mkdtemp(prefix="stream_sess_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value")
    ev.write.mode("overwrite").parquet(os.path.join(src, "real"))
    bounds = ev.agg(
        F.max(F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")).alias("mx")
    ).first()
    far_us = int(bounds["mx"]) + 400 * 24 * 3600 * 1_000_000  # +400 days
    sentinel_user = -1

    def drain():
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp_ntz, user_id long, value double")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        sessions = streaming_sessionize(
            stream, gap_minutes=30, watermark_delay="8760 hours")
        q = (
            sessions.writeStream.format("parquet")
            .option("path", os.path.join(work, "out"))
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(
                "streaming_sessions drain did not finish within 600s — "
                "refusing to read a partially-written result")

    drain()  # all real events; nothing can close yet (delay spans history)
    spark.createDataFrame(
        [(10**9, sentinel_user, float(0))],
        "event_id long, user_id long, value double",
    ).select(
        "event_id",
        F.expr(f"make_timestamp_ntz(1970,1,1,0,0,0) + INTERVAL '{far_us}' MICROSECOND").alias("ts"),
        "user_id", "value",
    ).write.mode("overwrite").parquet(os.path.join(src, "sentinel"))
    drain()  # sentinel advances the watermark; timeouts flush every session

    out = spark.read.parquet(os.path.join(work, "out"))
    result = (
        out.where(F.col("user_id") != sentinel_user)
        .select(
            "user_id", "session_seq", "start_us", "end_us", "n_events",
            F.col("sum_cents").cast("long").alias("sum_value_cents"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return result


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "lww_latest_event": q_lww_latest_event,
        "cdc_final_state": q_cdc_final_state,
        "usage_agg": q_usage_agg,
        "watermark_minmax": q_watermark_minmax,
        "grouped_columns": q_grouped_columns,
        "search_doc_join": q_search_doc_join,
        "anti_join_no_orders": q_anti_join_no_orders,
        "union_dedup": q_union_dedup,
        "timestamp_to_epoch": q_timestamp_to_epoch,
        "tag_normalize": q_tag_normalize,
        "stale_pct": q_stale_pct,
        "posexplode_columns": q_posexplode_columns,
        "exact_dedup": q_exact_dedup,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "simhash_near": q_simhash_near,
        "embedding_topk": q_embedding_topk,
        "lang_id": q_lang_id,
        "text_quality": q_text_quality,
        "doc_fingerprint": q_doc_fingerprint,
        "metastore_regroup": q_metastore_regroup,
        "catalog_scan": q_catalog_scan,
        "presto_view_decode": q_presto_view_decode,
        "atlas_mapping": q_atlas_mapping,
        "feast_columns": q_feast_columns,
        "embedding_neardup": q_embedding_neardup,
        "sessionize_events": q_sessionize_events,
        "dedup_components": q_dedup_components,
        "asof_signup": q_asof_signup,
        "range_join_events": q_range_join_events,
        "rollup_daily": q_rollup_daily,
        "doc_chunks": q_doc_chunks,
        "decontaminate": q_decontaminate,
        "pii_scrub": q_pii_scrub,
        "stratified_sample": q_stratified_sample,
        "sessions_channel": q_sessions_channel,
        "streaming_sessions": q_streaming_sessions,
        "column_profile": q_column_profile,
        "dedup_canonical": q_dedup_canonical,
        "vocab_topk": q_vocab_topk,
        "tfidf_top_terms": q_tfidf_top_terms,
        "paragraph_dedup": q_paragraph_dedup,
        "repetition_signals": q_repetition_signals,
        "dashboard_search_docs": q_dashboard_search_docs,
        "user_search_docs": q_user_search_docs,
        "cdc_replay_tables": q_cdc_replay_tables,
        "cdc_search_docs": q_cdc_search_docs,
        "cdc_changes": q_cdc_changes,
        "lake_read_where": q_lake_read_where,
        "cdc_usage_rels": q_cdc_usage_rels,
        "key_template": q_key_template,
        "literal_replace": q_literal_replace,
        "json_extract": q_json_extract,
        "base64_decode": q_base64_decode,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "lww_latest_event": """
            SELECT user_id,
                   event_type AS last_event_type,
                   value AS last_value,
                   CAST(floor(epoch(ts)) AS BIGINT) AS last_ts_epoch
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
                  FROM events) t
            WHERE rn = 1
        """,
        "cdc_final_state": """
            WITH mapped AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN event_type='signup' THEN 'insert'
                          WHEN event_type='error' THEN 'delete'
                          ELSE 'update' END AS op
              FROM events)
            SELECT user_id, op AS last_op, value AS last_value,
                   CAST(floor(epoch(ts)) AS BIGINT) AS last_ts_epoch
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
                  FROM mapped) t
            WHERE rn = 1 AND op != 'delete'
        """,
        "usage_agg": """
            SELECT user_id, event_type,
                   count(*) AS read_count,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value_cents
            FROM events GROUP BY user_id, event_type
        """,
        "watermark_minmax": """
            SELECT event_type,
                   CAST(floor(epoch(min(ts))) AS BIGINT) AS low_watermark,
                   CAST(floor(epoch(max(ts))) AS BIGINT) AS high_watermark
            FROM events GROUP BY event_type
        """,
        "grouped_columns": """
            SELECT l_orderkey,
                   count(*) AS n_cols,
                   string_agg(l_linenumber, ',' ORDER BY l_linenumber) AS col_order,
                   sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
        """,
        "search_doc_join": """
            WITH agg AS (
              SELECT o_custkey,
                     count(*) AS total_usage,
                     count(DISTINCT o_orderpriority) AS unique_usage,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_spent_cents,
                     string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
              FROM orders GROUP BY o_custkey)
            SELECT c.c_custkey AS key, c.c_name AS name, n.n_name AS nation,
                   r.r_name AS region,
                   coalesce(a.total_usage, 0) AS total_usage,
                   coalesce(a.unique_usage, 0) AS unique_usage,
                   coalesce(a.total_spent_cents, 0) AS total_spent_cents,
                   coalesce(a.statuses, '') AS statuses
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            LEFT JOIN agg a ON c.c_custkey = a.o_custkey
        """,
        "anti_join_no_orders": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "union_dedup": """
            SELECT DISTINCT o_custkey FROM (
              SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
              UNION ALL
              SELECT o_custkey FROM orders WHERE o_totalprice > 200000) t
        """,
        "timestamp_to_epoch": """
            SELECT event_id,
                   coalesce(CAST(epoch(TRY_CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP)) AS BIGINT), 0) AS epoch_ok,
                   coalesce(CAST(epoch(TRY_CAST(event_type AS TIMESTAMP)) AS BIGINT), 0) AS epoch_fail
            FROM events WHERE event_id < 2000
        """,
        "tag_normalize": """
            SELECT tag, count(*) AS tag_count
            FROM (SELECT unnest(string_split(lower(p_type), ' ')) AS tag FROM part) t
            WHERE length(trim(tag)) > 0
            GROUP BY tag
        """,
        "key_template": """
            SELECT o_orderkey,
                   'repofs://gold.cust_' || o_custkey || '/order_' || o_orderkey AS entity_key
            FROM orders
        """,
        "literal_replace": """
            SELECT doc_id, md5(replace(text, 'batch', 'micro')) AS replaced_md5
            FROM documents
        """,
        "json_extract": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
            FROM events
        """,
        "posexplode_columns": """
            SELECT p_partkey, i - 1 AS sort_order, ws[i] AS word
            FROM (SELECT p_partkey, string_split(p_type, ' ') AS ws FROM part) t,
                 LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) u
        """,
        "base64_decode": """
            SELECT doc_id, lang AS decoded_lang FROM documents
        """,
        "stale_pct": """
            SELECT event_type, count(*) AS total,
                   CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS stale,
                   sum(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) AS stale_pct
            FROM events GROUP BY event_type
        """,
        "exact_dedup": """
            SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint,
                   min(doc_id) AS keep_id, count(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "ngram_jaccard": """
            WITH w AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
              FROM documents WHERE doc_id < 500),
            sh AS (
              SELECT doc_id,
                     list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)]) AS shingles
              FROM w WHERE len(ws) >= 3),
            posts AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
            sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
            -- stop-shingle pruning: drop postings longer than max_posting=1000
            pruned AS (
              SELECT * FROM posts
              WHERE shingle NOT IN (
                SELECT shingle FROM posts GROUP BY shingle HAVING count(*) > 1000)),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM pruned a JOIN pruned b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT id_a, id_b,
                   i / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE i / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.2
        """,
        "minhash_lsh": """
            WITH w AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
              FROM documents WHERE doc_id < 500),
            sh AS (
              SELECT doc_id,
                     list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)]) AS shingles
              FROM w WHERE len(ws) >= 3),
            posts AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
            m AS (
              SELECT doc_id, i,
                     min(CAST('0x' || substr(md5(shingle || '|' || i), 1, 15) AS BIGINT)) AS mh
              FROM posts, (SELECT unnest(range(0, 32)) AS i) idx
              GROUP BY doc_id, i),
            sig AS (SELECT doc_id, list(mh ORDER BY i) AS sg FROM m GROUP BY doc_id),
            bands AS (
              SELECT doc_id, b, array_to_string(sg[b*4+1 : b*4+4], '|') AS bucket
              FROM sig, (SELECT unnest(range(0, 8)) AS b) bs),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b USING (b, bucket)
              WHERE a.doc_id < b.doc_id)
            SELECT id_a, id_b,
                   round(len(list_filter(range(1, 33), i -> sa.sg[i] = sb.sg[i])) / 32.0, 6) AS est_jaccard
            FROM cand
            JOIN sig sa ON sa.doc_id = id_a
            JOIN sig sb ON sb.doc_id = id_b
        """,
        "simhash_near": """
            WITH w AS (
              SELECT doc_id,
                     list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS words
              FROM documents WHERE doc_id < 500),
            h AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS hv
              FROM (SELECT doc_id, unnest(words) AS word FROM w)),
            votes AS (
              SELECT doc_id, b,
                     sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
              FROM h, (SELECT unnest(range(0, 60)) AS b) bs
              GROUP BY doc_id, b),
            sim AS (
              SELECT doc_id,
                     sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS simhash
              FROM votes GROUP BY doc_id)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM sim a JOIN sim b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
        """,
        "embedding_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
            c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
            scored AS (
              SELECT query_id, neighbor_id,
                     list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
              FROM q, c WHERE query_id != neighbor_id),
            ranked AS (
              SELECT query_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, round(cosine, 4) AS cosine, rank
            FROM ranked WHERE rank <= 5
        """,
        "lang_id": """
            WITH scores AS (
              SELECT lang AS actual,
                     len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS h_en,
                     len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist)\\b')) AS h_de,
                     len(regexp_extract_all(lower(text), '\\b(le|la|et|les|est)\\b')) AS h_fr,
                     len(regexp_extract_all(lower(text), '\\b(el|la|los|que|es)\\b')) AS h_es,
                     len(regexp_extract_all(lower(text), '(的|是|了|在|我)')) AS h_zh
              FROM documents),
            pred AS (
              SELECT actual,
                     CASE WHEN greatest(h_en,h_de,h_fr,h_es,h_zh) = 0 THEN 'unknown'
                          WHEN h_de = greatest(h_en,h_de,h_fr,h_es,h_zh) THEN 'de'
                          WHEN h_en = greatest(h_en,h_fr,h_es,h_zh) THEN 'en'
                          WHEN h_es = greatest(h_es,h_fr,h_zh) THEN 'es'
                          WHEN h_fr = greatest(h_fr,h_zh) THEN 'fr'
                          ELSE 'zh' END AS predicted
              FROM scores)
            SELECT actual, predicted, count(*) AS n FROM pred GROUP BY 1, 2
        """,
        "text_quality": """
            WITH base AS (
              SELECT doc_id, text,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ws_tokens,
                     len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS re_tokens,
                     CASE WHEN length(text) > 0
                          THEN len(regexp_extract_all(text, '[^A-Za-z0-9_\\s]')) / CAST(length(text) AS DOUBLE)
                          ELSE 0.0 END AS praw
              FROM documents),
            ext AS (
              SELECT *,
                     CASE WHEN ws_tokens > 0
                          THEN length(regexp_replace(text, '\\s+', '', 'g')) / CAST(ws_tokens AS DOUBLE)
                          ELSE 0.0 END AS mean_wl
              FROM base)
            SELECT doc_id, ws_tokens, re_tokens,
                   CAST(floor(praw * 10000) AS BIGINT) AS punct_ratio_x1e4,
                   CAST(floor((0.4 * least(1.0, ws_tokens / 64.0)
                       + 0.3 * (1.0 - least(1.0, praw * 4))
                       + 0.3 * (CASE WHEN mean_wl >= 3 AND mean_wl <= 12 THEN 1.0 ELSE 0.0 END)) * 10000) AS BIGINT) AS quality_x1e4
            FROM ext
        """,
        "doc_fingerprint": """
            SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
            FROM documents
        """,
        "cdc_replay_tables": """
            SELECT source AS repo,
                   'doc_' || doc_id AS path,
                   md5(text) AS commit,
                   sha256(text) AS content_sha256,
                   CAST(epoch(TIMESTAMP '2024-01-01 00:00:00') + doc_id AS BIGINT) AS last_updated_epoch
            FROM documents WHERE doc_id % 7 != 0
        """,
        "cdc_search_docs": """
            SELECT 'repofs://gold.' || source || '/doc_' || doc_id AS key,
                   source AS schema, 'doc_' || doc_id AS name,
                   lang AS tags,
                   CAST(epoch(TIMESTAMP '2024-01-01 00:00:00') + doc_id AS BIGINT) AS last_updated_timestamp,
                   CAST((doc_id % 13 + 1) + (doc_id % 5 + 1) AS BIGINT) AS total_usage,
                   CAST(CASE WHEN (doc_id % 11) = ((doc_id * 3 + 1) % 11) THEN 1 ELSE 2 END AS BIGINT) AS unique_usage
            FROM documents WHERE doc_id % 7 != 0
        """,
        "lake_read_where": """
            SELECT source AS repo,
                   'doc_' || doc_id AS path,
                   md5(text) AS commit,
                   sha256(text) AS content_sha256,
                   CAST(epoch(TIMESTAMP '2024-01-01 00:00:00') + doc_id AS BIGINT) AS last_updated_epoch
            FROM documents
            WHERE doc_id % 7 != 0
              AND 'doc_' || doc_id BETWEEN 'doc_100' AND 'doc_199'
        """,
        "cdc_changes": """
            SELECT 'repofs://gold.' || source || '/doc_' || doc_id AS key,
                   source AS schema, 'doc_' || doc_id AS name, lang AS tags,
                   CAST(epoch(TIMESTAMP '2024-01-01 00:00:00') + doc_id AS BIGINT) AS last_updated_timestamp,
                   'delete' AS change_type
            FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT 'repofs://gold.' || source || '/doc_' || doc_id,
                   source, 'doc_' || doc_id, lang,
                   CAST(epoch(TIMESTAMP '2024-02-01 00:00:00') + doc_id AS BIGINT),
                   'update'
            FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 != 0
            UNION ALL
            SELECT 'repofs://gold.' || source || '/docx_' || doc_id,
                   source, 'docx_' || doc_id, lang,
                   CAST(epoch(TIMESTAMP '2024-02-01 00:00:00') + doc_id AS BIGINT),
                   'insert'
            FROM documents WHERE doc_id % 9 = 0
        """,
        "metastore_regroup": """
            WITH cols AS (
              SELECT 's_' || (p_partkey % 3) AS schema,
                     't_' || (p_partkey % 50) AS name,
                     'c_' || p_partkey AS col_name,
                     lower(string_split(p_type, ' ')[1]) AS col_type,
                     p_partkey AS so
              FROM part)
            SELECT schema, name,
                   count(*) AS n_cols,
                   string_agg(col_name, ',' ORDER BY so) AS col_names,
                   string_agg(col_type, ',' ORDER BY so) AS col_types
            FROM cols GROUP BY schema, name
        """,
        "catalog_scan": """
            SELECT 'delta' AS database, 'gold' AS cluster,
                   'oracle_cat' AS schema, t.* FROM (VALUES
              ('repo_files_meta', 'repo files', 'repo', 'repo slug', 'string', CAST(0 AS BIGINT), false, false),
              ('repo_files_meta', 'repo files', 'path', '', 'string', 1, false, false),
              ('repo_files_meta', 'repo files', 'commit', '', 'string', 2, false, false),
              ('repo_files_meta', 'repo files', 'lang', '', 'string', 3, false, false),
              ('repo_files_meta', 'repo files', 'content', '', 'string', 4, false, false),
              ('repo_files_meta', 'repo files', 'ds', '', 'string', 5, false, true),
              ('langs_v', '', 'lang', '', 'string', 0, true, false),
              ('langs_v', '', 'n', '', 'bigint', 1, true, false)
            ) t(name, description, col_name, col_description, col_type,
                col_sort_order, is_view, is_partition)
        """,
        "presto_view_decode": """
            SELECT 'presto' AS database, 'gold' AS cluster,
                   source AS schema, 'v_' || doc_id AS name,
                   'c0' AS col_name, lang AS col_type,
                   CAST(0 AS BIGINT) AS col_sort_order, true AS is_view
            FROM documents
            UNION ALL
            SELECT 'presto', 'gold', source, 'v_' || doc_id,
                   'c1', 'varchar', CAST(1 AS BIGINT), true
            FROM documents
        """,
        "sessionize_events": """
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                     CAST(value AS DECIMAL(18,2)) AS v
              FROM events
            ), flagged AS (
              SELECT *,
                     CASE WHEN lag(ts_us) OVER w IS NULL
                            OR ts_us - lag(ts_us) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS is_new
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
            ), sess AS (
              SELECT *,
                     SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM flagged
            )
            SELECT user_id,
                   CAST(session_seq AS BIGINT) AS session_seq,
                   min(ts_us) AS start_us,
                   max(ts_us) AS end_us,
                   COUNT(*) AS n_events,
                   CAST(SUM(v) * 100 AS BIGINT) AS sum_value_cents
            FROM sess
            GROUP BY user_id, session_seq
        """,
        "embedding_neardup": """
            WITH q AS (
              SELECT vec_id, label,
                     list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)
                     ) AS qv
              FROM embeddings
            ), n AS (
              SELECT vec_id, label, qv,
                     list_sum(list_transform(qv, x -> x * x)) AS n2
              FROM q
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(a.label AS BIGINT) AS label
            FROM n a JOIN n b
              ON a.label = b.label AND a.vec_id < b.vec_id,
            LATERAL (
              SELECT list_sum(list_transform(range(len(a.qv)),
                       i -> a.qv[i + 1] * b.qv[i + 1])) AS dot) d
            WHERE d.dot > 0
              AND 100 * d.dot * d.dot >= 9 * a.n2 * b.n2
        """,
        "feast_columns": """
            WITH ents AS (
              SELECT 'feast' AS database, 'feast_main' AS cluster,
                     'proj_' || n_regionkey AS schema,
                     'ft_' || lower(n_name) AS name,
                     'ent_' || n_nationkey AS col_name,
                     'key for proj_' || n_regionkey AS col_description,
                     'STRING' AS col_type,
                     CAST(0 AS BIGINT) AS col_sort_order,
                     false AS is_view, false AS is_partition
              FROM nation
            ), feats AS (
              SELECT 'feast' AS database, 'feast_main' AS cluster,
                     'proj_' || n_regionkey AS schema,
                     'ft_' || lower(n_name) AS name,
                     'f' || i AS col_name,
                     '' AS col_description,
                     'FLOAT' AS col_type,
                     CAST(1 + i AS BIGINT) AS col_sort_order,
                     false AS is_view, false AS is_partition
              FROM nation, LATERAL (
                SELECT unnest(range(n_nationkey % 3 + 1)) AS i)
            )
            SELECT * FROM ents UNION ALL SELECT * FROM feats
        """,
        "atlas_mapping": """
            SELECT 'hive_table' AS database,
                   'cl1' AS cluster,
                   source AS schema,
                   't' || doc_id AS name,
                   source || '.t' || doc_id || '@cl1' AS key,
                   'd' AS description,
                   CAST(1700000000 + doc_id AS BIGINT) AS last_updated_timestamp,
                   CAST(n_chars % 7 AS BIGINT) AS total_usage,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE doc_id % 3 END
                        AS BIGINT) AS unique_usage,
                   source || '.t' || doc_id AS display_name,
                   source AS schema_description,
                   'cA' AS column_names,
                   'descA' AS column_descriptions,
                   'gold' AS badges,
                   lang AS tags,
                   source AS programmatic_descriptions
            FROM documents
        """,
        "dashboard_search_docs": """
            WITH dash AS (SELECT DISTINCT p_partkey % 40 AS did FROM part),
            docs AS (
              SELECT 'mode_dashboard://gold.grp_' || (did % 8) || '/dash_' || did AS uri,
                     'Dashboard ' || did AS name,
                     'Group ' || (did % 8) AS group_name,
                     'mode' AS product, 'gold' AS cluster,
                     CASE WHEN did % 5 != 0 THEN 'desc ' || did ELSE '' END AS description,
                     CASE WHEN (did % 8) % 3 = 0 THEN 'gdesc ' || (did % 8) ELSE '' END AS group_description,
                     'https://g/' || (did % 8) AS group_url,
                     'https://d/' || did AS url,
                     CAST(1700000000 + did AS BIGINT) AS last_successful_run_timestamp,
                     CAST((did % 9 + 1) + (did % 4 + 2) AS BIGINT) AS total_usage,
                     did
              FROM dash),
            qn AS (
              SELECT did, string_agg(DISTINCT qname, '|' ORDER BY qname) AS query_names
              FROM (SELECT did, 'Query ' || ((did + qi) % 6) AS qname
                    FROM dash, (SELECT unnest([1, 2]) AS qi)) t
              GROUP BY did),
            cn AS (
              SELECT did, string_agg(DISTINCT cname, '|' ORDER BY cname) AS chart_names
              FROM (SELECT did, 'Chart ' || ((did + qi) % 4) AS cname
                    FROM dash, (SELECT unnest([1, 2]) AS qi)) t
              GROUP BY did),
            tg AS (
              SELECT did, string_agg(DISTINCT tag, '|' ORDER BY tag) AS tags
              FROM (SELECT did, unnest(['viz', 'team_' || (did % 4)]) AS tag FROM dash) t
              GROUP BY did)
            SELECT uri, name, group_name, product, cluster, description,
                   group_description, group_url, url,
                   last_successful_run_timestamp, total_usage,
                   qn.query_names, cn.chart_names, tg.tags
            FROM docs JOIN qn USING (did) JOIN cn USING (did) JOIN tg USING (did)
        """,
        "user_search_docs": """
            WITH live AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 7 != 0),
            owners AS (
              SELECT 'user_' || (CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 50)
                       || '@example.com' AS email,
                     'repofs://gold.' || source || '/doc_' || doc_id AS tkey
              FROM live),
            own_agg AS (SELECT email, count(DISTINCT tkey) AS total_own FROM owners GROUP BY email),
            readers AS (
              SELECT 'reader_' || (doc_id % 11) || '@example.com' AS email,
                     doc_id % 13 + 1 AS c FROM live
              UNION ALL
              SELECT 'reader_' || ((doc_id * 3 + 1) % 11) || '@example.com',
                     doc_id % 5 + 1 FROM live),
            read_agg AS (SELECT email, sum(c) AS total_read FROM readers GROUP BY email),
            allu AS (SELECT email FROM own_agg UNION SELECT email FROM read_agg),
            org AS (
              SELECT 'reader_' || u || '@example.com' AS email,
                     'reader_' || ((u + 1) % 11) || '@example.com' AS manager_email
              FROM range(11) t(u))
            SELECT a.email, a.email AS full_name, true AS is_active,
                   g.manager_email,
                   CAST(coalesce(r.total_read, 0) AS BIGINT) AS total_read,
                   CAST(coalesce(o.total_own, 0) AS BIGINT) AS total_own,
                   CAST(0 AS BIGINT) AS total_follow
            FROM allu a
            LEFT JOIN own_agg o USING (email)
            LEFT JOIN read_agg r USING (email)
            LEFT JOIN org g USING (email)
        """,
        "vocab_topk": """
            WITH w AS (SELECT doc_id,
                              list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS ws
                       FROM documents),
            t AS (SELECT unnest(ws) AS term FROM w),
            c AS (SELECT term, count(*) AS doc_freq FROM t GROUP BY 1),
            r AS (SELECT term, doc_freq,
                         row_number() OVER (ORDER BY doc_freq DESC, term ASC) AS rank
                  FROM c)
            SELECT term, doc_freq, rank FROM r WHERE rank <= 100
        """,
        "tfidf_top_terms": """
            WITH p AS (SELECT doc_id,
                              unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
                       FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM p GROUP BY 1, 2),
            dfq AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM p GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
            s AS (SELECT doc_id, term, tf,
                         tf * CAST(floor(1000000.0 * nd / doc_freq) AS BIGINT) AS score
                  FROM tf JOIN dfq USING (term), n),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
                  FROM s)
            SELECT doc_id, term, tf, score, rank FROM r WHERE rank <= 3
        """,
        "paragraph_dedup": """
            WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
                       FROM documents),
            blk AS (
              SELECT doc_id, CAST(i - 1 AS BIGINT) AS block_idx,
                     array_to_string(ws[(i-1)*5+1:(i-1)*5+5], ' ') AS block
              FROM w, LATERAL (SELECT unnest(range(1, CAST(ceil(len(ws)/5.0) AS INT) + 1)) AS i) u),
            f AS (SELECT doc_id,
                         CASE WHEN row_number() OVER (
                             PARTITION BY block ORDER BY doc_id, block_idx) > 1
                              THEN 1 ELSE 0 END AS is_dup
                  FROM blk)
            SELECT doc_id, count(*) AS n_blocks,
                   CAST(sum(is_dup) AS BIGINT) AS n_dup_blocks,
                   CAST((sum(is_dup) * 1000) // count(*) AS BIGINT) AS dup_permille
            FROM f GROUP BY 1
        """,
        "repetition_signals": """
            WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
                       FROM documents),
            base AS (SELECT doc_id,
                CAST(len(ws) AS BIGINT) AS n_words,
                CAST(len(list_distinct(ws)) AS BIGINT) AS distinct_words,
                CAST(greatest(len(ws) - 1, 0) AS BIGINT) AS n_bigrams,
                CAST(len(list_distinct(
                    [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))])) AS BIGINT)
                  AS distinct_bigrams
              FROM w),
            t AS (SELECT doc_id, unnest(ws) AS word FROM w),
            c AS (SELECT doc_id, word, count(*) AS c FROM t GROUP BY 1, 2),
            top AS (SELECT doc_id, max(c) AS top_word_count FROM c GROUP BY 1)
            SELECT b.doc_id, n_words, distinct_words,
                   CAST(coalesce(top_word_count, 0) AS BIGINT) AS top_word_count,
                   CAST(CASE WHEN n_words > 0
                             THEN ((n_words - distinct_words) * 1000) // n_words
                             ELSE 0 END AS BIGINT) AS dup_word_permille,
                   CAST(CASE WHEN n_bigrams > 0
                             THEN ((n_bigrams - distinct_bigrams) * 1000) // n_bigrams
                             ELSE 0 END AS BIGINT) AS dup_bigram_permille
            FROM base b LEFT JOIN top USING (doc_id)
        """,
        "sessions_channel": """
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                     CAST(value AS DECIMAL(18,2)) AS v
              FROM events
            ), flagged AS (
              SELECT *,
                     CASE WHEN lag(ts_us) OVER w IS NULL
                            OR ts_us - lag(ts_us) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS is_new
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
            ), sess AS (
              SELECT *,
                     SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM flagged
            )
            SELECT user_id,
                   CAST(session_seq AS BIGINT) AS session_seq,
                   min(ts_us) AS start_us,
                   max(ts_us) AS end_us,
                   COUNT(*) AS n_events,
                   CAST(SUM(v) * 100 AS BIGINT) AS sum_value_cents
            FROM sess
            GROUP BY user_id, session_seq
        """,
        "streaming_sessions": """
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                     CAST(value AS DECIMAL(18,2)) AS v
              FROM events
            ), flagged AS (
              SELECT *,
                     CASE WHEN lag(ts_us) OVER w IS NULL
                            OR ts_us - lag(ts_us) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS is_new
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
            ), sess AS (
              SELECT *,
                     SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM flagged
            )
            SELECT user_id,
                   CAST(session_seq AS BIGINT) AS session_seq,
                   min(ts_us) AS start_us,
                   max(ts_us) AS end_us,
                   COUNT(*) AS n_events,
                   CAST(SUM(v) * 100 AS BIGINT) AS sum_value_cents
            FROM sess
            GROUP BY user_id, session_seq
        """,
        "dedup_components": """
            WITH RECURSIVE w AS (
              SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS words
              FROM documents WHERE doc_id < 500),
            h AS (
              SELECT doc_id, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS hv
              FROM (SELECT doc_id, unnest(words) AS word FROM w)),
            votes AS (
              SELECT doc_id, b, sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
              FROM h, (SELECT unnest(range(0, 60)) AS b) bs GROUP BY doc_id, b),
            sim AS (
              SELECT doc_id, sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS simhash
              FROM votes GROUP BY doc_id),
            pairs AS (
              SELECT a.doc_id AS u, b.doc_id AS v
              FROM sim a JOIN sim b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 1),
            bi AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
            reach AS (
              SELECT u AS node, v AS r FROM bi
              UNION
              SELECT reach.node, e.v FROM reach JOIN bi e ON reach.r = e.u)
            SELECT node, least(node, min(r)) AS component
            FROM reach GROUP BY node
        """,
        "column_profile": """
            WITH stats AS (
              SELECT 'lang' AS col_name, 'min' AS stat_name,
                     CAST(min(lang) AS VARCHAR) AS stat_val FROM documents
              UNION ALL SELECT 'lang', 'max', CAST(max(lang) AS VARCHAR) FROM documents
              UNION ALL SELECT 'lang', 'null_count',
                     CAST(count(*) - count(lang) AS VARCHAR) FROM documents
              UNION ALL SELECT 'lang', 'distinct_count',
                     CAST(count(DISTINCT lang) AS VARCHAR) FROM documents
              UNION ALL SELECT 'source', 'min', CAST(min(source) AS VARCHAR) FROM documents
              UNION ALL SELECT 'source', 'max', CAST(max(source) AS VARCHAR) FROM documents
              UNION ALL SELECT 'source', 'null_count',
                     CAST(count(*) - count(source) AS VARCHAR) FROM documents
              UNION ALL SELECT 'source', 'distinct_count',
                     CAST(count(DISTINCT source) AS VARCHAR) FROM documents
              UNION ALL SELECT 'n_chars', 'min', CAST(min(n_chars) AS VARCHAR) FROM documents
              UNION ALL SELECT 'n_chars', 'max', CAST(max(n_chars) AS VARCHAR) FROM documents
              UNION ALL SELECT 'n_chars', 'null_count',
                     CAST(count(*) - count(n_chars) AS VARCHAR) FROM documents
              UNION ALL SELECT 'n_chars', 'distinct_count',
                     CAST(count(DISTINCT n_chars) AS VARCHAR) FROM documents)
            SELECT 'repofs' AS db, 'gold' AS cluster, 'docs' AS schema,
                   'documents' AS table_name, col_name, stat_name, stat_val,
                   '0' AS start_epoch, '0' AS end_epoch
            FROM stats
        """,
        "dedup_canonical": """
            WITH RECURSIVE w AS (
              SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS words
              FROM documents WHERE doc_id < 500),
            h AS (
              SELECT doc_id, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS hv
              FROM (SELECT doc_id, unnest(words) AS word FROM w)),
            votes AS (
              SELECT doc_id, b, sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
              FROM h, (SELECT unnest(range(0, 60)) AS b) bs GROUP BY doc_id, b),
            sim AS (
              SELECT doc_id, sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS simhash
              FROM votes GROUP BY doc_id),
            pairs AS (
              SELECT a.doc_id AS u, b.doc_id AS v
              FROM sim a JOIN sim b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 1),
            bi AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
            reach AS (
              SELECT u AS node, v AS r FROM bi
              UNION
              SELECT reach.node, e.v FROM reach JOIN bi e ON reach.r = e.u),
            comp AS (
              SELECT node, least(node, min(r)) AS component
              FROM reach GROUP BY node),
            j AS (
              SELECT c.component, c.node, d.n_chars
              FROM comp c JOIN documents d ON d.doc_id = c.node),
            ranked AS (
              SELECT component, node,
                     row_number() OVER (PARTITION BY component
                                        ORDER BY n_chars DESC, node ASC) AS rn
              FROM j)
            SELECT component,
                   max(CASE WHEN rn = 1 THEN node END) AS canonical_id,
                   count(*) AS n_docs
            FROM ranked GROUP BY component
        """,
        "asof_signup": """
            WITH l AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type <> 'signup'),
                 r AS (SELECT event_id AS signup_event_id, user_id, ts
                       FROM events WHERE event_type = 'signup')
            SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
                   coalesce(epoch_us(r.ts), -1) AS signup_us,
                   coalesce(r.signup_event_id, -1) AS signup_event_id
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "range_join_events": """
            WITH i AS (
              SELECT event_id AS interval_id, user_id,
                     ts AS s, ts + INTERVAL 1 HOUR AS e
              FROM events WHERE event_id % 11 = 0)
            SELECT ev.event_id, i.interval_id, ev.user_id,
                   epoch_us(ev.ts) AS ts_us,
                   epoch_us(i.s) AS start_us
            FROM events ev JOIN i
              ON ev.user_id = i.user_id
             AND ev.ts >= i.s AND ev.ts < i.e
        """,
        "rollup_daily": """
            SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS bucket_us,
                   event_type,
                   COUNT(*) AS n_rows,
                   CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents,
                   min(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS min_cents,
                   max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS max_cents
            FROM events
            GROUP BY 1, 2
        """,
        "doc_chunks": """
            WITH w AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
              FROM documents),
            n AS (SELECT doc_id, ws,
                         CAST(1 + ceil(greatest(len(ws) - 32, 0) / 24.0) AS BIGINT) AS nc
                  FROM w)
            SELECT doc_id, i AS chunk_id,
                   len(ws[i*24+1 : i*24+32]) AS n_tokens,
                   array_to_string(ws[i*24+1 : i*24+32], ' ') AS chunk_text
            FROM n, LATERAL (SELECT unnest(range(0, nc)) AS i)
        """,
        "decontaminate": """
            WITH w AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct([array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws)-3)]) AS shingles
              FROM w WHERE len(ws) >= 5),
            bench AS (
              SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 97 = 0),
            train AS (
              SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 97 <> 0)
            SELECT doc_id, count(*) AS n_shared
            FROM train JOIN bench USING (shingle)
            GROUP BY 1
        """,
        "pii_scrub": """
            WITH aug AS (
              SELECT doc_id,
                     text || ' contact reader_' || (doc_id % 11) || '@example.com ssn ' ||
                     (100 + doc_id % 900) || '-' ||
                     lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-' ||
                     lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
                     CASE WHEN doc_id % 3 = 0
                          THEN ' ph +1-' || (100 + doc_id % 900) || '-555-' ||
                               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                          ELSE '' END AS t
              FROM documents)
            SELECT doc_id,
                   md5(regexp_replace(regexp_replace(regexp_replace(t,
                         '[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)+', '<EMAIL>', 'g'),
                         '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
                         '\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS clean_md5,
                   len(regexp_extract_all(t, '[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)+')) AS n_email,
                   len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS n_ssn,
                   len(regexp_extract_all(t, '\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phone
            FROM aug
        """,
        "stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE CAST('0x' || substr(md5('s1|' || doc_id), 1, 15) AS BIGINT) % 100 <
                  CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 25 ELSE 10 END
        """,
        "cdc_usage_rels": """
            WITH live AS (SELECT doc_id, source FROM documents WHERE doc_id % 7 != 0),
            pairs AS (
              SELECT doc_id, source, doc_id % 11 AS u, doc_id % 13 + 1 AS c FROM live
              UNION ALL
              SELECT doc_id, source, (doc_id * 3 + 1) % 11 AS u, doc_id % 5 + 1 AS c FROM live)
            SELECT 'repofs://gold.' || source || '/doc_' || doc_id AS start_key,
                   'reader_' || u || '@example.com' AS user_email,
                   CAST(sum(c) AS BIGINT) AS read_count
            FROM pairs GROUP BY 1, 2
        """,
    }
