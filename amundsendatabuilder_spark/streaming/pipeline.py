"""The CDC pipeline — changelog micro-batches → graph + search-doc tables.

One ``foreachBatch`` application does, per micro-batch (epoch):

1. **LWW dedup** (``groupBy.max(struct)`` — map-side combine kills dup/skew).
2. split upserts vs deletes.
3. **diff against current state**: read the old entity rows for exactly the
   touched keys (bucket-pruned point lookup), tag old and new entity rows
   with their side, and expand them ONCE into nodes and relations. One keyed
   aggregate per graph table then emits the new row of every key the new
   state produces and a delete row for every scoped key only the old state
   produced — the exact child diff. This replaces the reference's
   publish-then-reap staleness model with an exact incremental diff; the
   staleness task still exists for shared nodes and disaster recovery.
4. **prepare** the four MERGEs (nodes, relations, search docs, entities) as
   one concurrent wave of Spark jobs, then **commit** derived tables first.
5. **commit the entity table LAST** — it is the epoch commit marker.

Exactly-once: each table keeps a per-channel epoch ledger inside its manifest
(commit & ledger swap atomically). Derived tables are merged strictly before
the entity table, and every derivation reads only (batch + entity-table
current state), so a crash anywhere leaves the system in a state where
replaying the same epoch recomputes byte-identical merges; tables that
already applied the epoch skip via their ledger. This is the engine-grade
version of the reference's commit-Kafka-offsets-only-after-publish
(``databuilder/extractor/kafka_source_extractor.py:116-131``).

Scale notes: every stage is either narrow (extraction, expansion) or shuffles
only batch-sized data (dedup, diff join, merge join of batch vs touched
buckets). Nothing reads the full table; per-epoch cost is proportional to the
batch's key footprint, not table size.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amundsendatabuilder_spark.functions import keys as K
from amundsendatabuilder_spark.functions.sqltext import sql_ident, sql_str
from amundsendatabuilder_spark.operators.dedup import lww_dedup_agg
from amundsendatabuilder_spark.operators.extract import extract_entities
from amundsendatabuilder_spark.operators.models import (
    NODE_SCHEMA,
    REL_SCHEMA,
    nodes_from_entities,
    relations_from_entities,
    usage_relations,
    usage_user_nodes,
    validate_nodes,
    validate_relations,
)
from amundsendatabuilder_spark.operators.search_docs import DOC_SCHEMA, docs_from_entities
from amundsendatabuilder_spark.plans.lake import SnapshotLake
from amundsendatabuilder_spark.sources.changelog import CHANGELOG_SCHEMA

ENTITY_KEYS = ["repo", "path"]
# the usage channel's wire shape (BigQueryTableUsageExtractor audit rows,
# ``databuilder/extractor/bigquery_usage_extractor.py:47-110``)
USAGE_SCHEMA = "repo string, path string, user_email string, read_count long"
NODE_KEYS = ["key", "label"]
REL_KEYS = ["start_key", "end_key", "type"]
DOC_KEYS = ["key"]


def parse_kafka_records(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Kafka wire rows (key/value binary, topic, partition, offset) → typed
    changelog rows: ``(good, bad)``. A parse failure leaves every struct
    field null; ``event_id`` is the required discriminator. Pure transform —
    the caller decides the bad-record policy (batch side, where actions may
    run)."""
    has_meta = [c for c in ("topic", "partition", "offset") if c in raw.columns]
    parsed = raw.select(
        F.col("value").cast("string").alias("__raw"),
        *has_meta,
        F.from_json(F.col("value").cast("string"), CHANGELOG_SCHEMA).alias("r"),
    )
    good = parsed.where(F.col("r.event_id").isNotNull()).select("r.*")
    bad = parsed.where(F.col("r.event_id").isNull()).select("__raw", *has_meta)
    return good, bad


def apply_bad_record_policy(bad: DataFrame, on_bad_record: str = "drop",
                            dead_letter_dir: str | None = None,
                            write_mode: str = "append") -> int:
    """The reference's ``transformer_thrown_exception`` policy
    (``kafka_source_extractor.py:107-114``): ``drop`` (reference default —
    logs and drops), ``fail`` (poisoned batch aborts loudly), or — strictly
    stronger than the reference — append the raw records to a parquet
    dead-letter sink so nothing is lost. Returns the bad-record count."""
    if on_bad_record not in ("drop", "fail"):
        raise ValueError(
            f"on_bad_record={on_bad_record!r} is not a policy (use 'drop'"
            " or 'fail') — an unknown value silently ignoring bad records"
            " would defeat the protection the caller asked for")
    if on_bad_record == "drop" and dead_letter_dir is None:
        return 0  # not even counted — zero extra jobs on the clean path
    if dead_letter_dir is not None:
        bad.write.mode(write_mode).parquet(dead_letter_dir)
    n = bad.count()
    if on_bad_record == "fail" and n:
        sample = bad.select("__raw").first()
        raise ValueError(
            f"{n} malformed changelog record(s) in batch; first: {sample['__raw']!r}"
        )
    return n


def _strip(schema, drop: set[str]):
    import pyspark.sql.types as T

    return T.StructType([f for f in schema.fields if f.name not in drop])


def _child_diff(rows: DataFrame, keys: list[str], delete_keeps: tuple[str, ...],
                order: tuple[str, ...]) -> DataFrame:
    """One keyed aggregate over the expansion of side-tagged entity rows
    (``__new``): per merge key, the new-side row when the new state produces
    the key (shared keys repeat across entities with a key-determined
    payload, so any copy is THE row), else a delete row when only old-side
    SCOPED rows produced it. Delete rows keep ``delete_keeps`` of the old row
    and null the rest of the payload. Keys only old shared rows produced are
    left alone (shared nodes are never diff-deleted). ``order`` sorts each
    partition so the written files keep a key-clustered layout."""
    payload = [c for c in rows.columns if c not in (*keys, "__new", "scope_key")]
    return (
        rows.groupBy(*keys)
        .agg(
            F.expr(f"max_by(struct({', '.join(map(sql_ident, payload))}), __new) AS __p"),
            F.expr("max(__new) AS __has_new"),
            F.expr("max(NOT __new AND scope_key IS NOT NULL) AS __old_scoped"),
        )
        .where("__has_new OR __old_scoped")
        .selectExpr(
            *map(sql_ident, keys),
            *[f"__p.{sql_ident(c)} AS {sql_ident(c)}" if c in delete_keeps
              else f"CASE WHEN __has_new THEN __p.{sql_ident(c)} END AS {sql_ident(c)}"
              for c in payload],
            "NOT __has_new AS __delete",
        )
        .sortWithinPartitions(*order)
    )


class CDCPipeline:
    # every channel prepares its merges as one concurrent wave at every
    # width (_merge_wave): small epochs are driver-bound (planning), so
    # overlapping the plans pays even when one chain's tasks would fill the
    # cores
    parallel_prepare = True

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        n_buckets: int = 64,
        cluster: str = K.CLUSTER,
        create_only_labels: tuple[str, ...] = (),
        table_mode: str = "cow",
        compact_every: int = 8,
        compact_max_delta_files: int = 2,
        materialize: str = "local_checkpoint",
    ):
        """``table_mode``: "cow" rewrites touched buckets per epoch (cheap
        reads); "mor" appends one sorted run per table per epoch and
        resolves winners on read — the ingest-throughput shape for
        10^10-event replays. Every ``compact_every`` epochs, each MoR table
        holding more than ``compact_max_delta_files`` runs folds them all
        back into the base."""
        self.spark = spark
        self.cluster = cluster
        self.create_only_labels = create_only_labels
        self.table_mode = table_mode
        self.compact_every = compact_every
        self.compact_max_delta_files = compact_max_delta_files
        # intermediate-frame materialization: "local_checkpoint" (default —
        # fastest; lineage is CUT, so an executor loss on a real cluster
        # fails the epoch and replay re-runs it, which exactly-once absorbs)
        # vs "persist" (lineage kept: executor loss recomputes the lost
        # partitions — the fault-tolerant choice for long epochs on
        # preemptible nodes). Same results, different recovery cost.
        if materialize not in ("local_checkpoint", "persist"):
            raise ValueError(f"unknown materialize strategy {materialize!r}")
        self.materialize = materialize
        self.lake = SnapshotLake(spark, warehouse)
        self.metrics_dir = os.path.join(warehouse, "_metrics")
        os.makedirs(self.metrics_dir, exist_ok=True)

        from amundsendatabuilder_spark.operators.extract import extract_entities as _x

        import pyspark.sql.types as T

        entity_schema = T.StructType(
            _x(spark.createDataFrame([], CHANGELOG_SCHEMA), cluster)
            .drop("op", "shard", "event_id")
            .schema.fields
            + [T.StructField("is_deleted", T.BooleanType())]
        )
        self.repo_files = self.lake.create_table(
            "repo_files", entity_schema, ENTITY_KEYS, n_buckets=n_buckets, mode=table_mode
        )
        self.graph_nodes = self.lake.create_table(
            "graph_nodes", _strip(NODE_SCHEMA, {"scope_key"}), NODE_KEYS, n_buckets=n_buckets, mode=table_mode
        )
        self.graph_relations = self.lake.create_table(
            "graph_relations", _strip(REL_SCHEMA, {"scope_key"}), REL_KEYS, n_buckets=n_buckets, mode=table_mode
        )
        self.search_documents = self.lake.create_table(
            "search_documents", DOC_SCHEMA, DOC_KEYS, n_buckets=n_buckets, mode=table_mode
        )
        # accumulated READ state per table: per-user counts (sorted array —
        # deterministic across parallelism) + the two doc-level aggregates.
        # Fed by apply_usage; read (bucket-pruned) to decorate docs.
        usage_schema = T.StructType(
            [
                T.StructField("key", T.StringType()),
                T.StructField(
                    "readers",
                    T.ArrayType(
                        T.StructType(
                            [
                                T.StructField("user_email", T.StringType()),
                                T.StructField("read_count", T.LongType()),
                            ]
                        )
                    ),
                ),
                T.StructField("total_usage", T.LongType()),
                T.StructField("unique_usage", T.LongType()),
            ]
        )
        self.table_usage = self.lake.create_table(
            "table_usage", usage_schema, DOC_KEYS, n_buckets=n_buckets, mode=table_mode
        )
        # sessionization channel (apply_sessions): closed+open sessions per
        # user keyed (user_id, session_seq), plus the O(active users) open-
        # session state keyed user_id — the batch-epoch twin of the
        # streaming operator's applyInPandasWithState store
        session_schema = T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("session_seq", T.LongType()),
                T.StructField("start_us", T.LongType()),
                T.StructField("end_us", T.LongType()),
                T.StructField("n_events", T.LongType()),
                T.StructField("sum_cents", T.LongType()),
            ]
        )
        self.user_sessions = self.lake.create_table(
            "user_sessions", session_schema, ["user_id", "session_seq"],
            n_buckets=n_buckets, mode=table_mode,
        )
        self.session_state = self.lake.create_table(
            "session_state", session_schema, ["user_id"],
            n_buckets=n_buckets, mode=table_mode,
        )


    def _maybe_compact(self, epoch_id: int) -> dict[str, Any] | None:
        """Fold MoR runs into the base every ``compact_every`` epochs, in
        each table holding more than ``compact_max_delta_files`` runs.
        ALL MoR tables compact here — including ``table_usage``, whose
        runs would otherwise accumulate forever (its reads would slow
        linearly with epochs ingested).  Runs on the replayed form of a
        boundary epoch too (the crash may have landed between the epoch
        marker commit and compaction).  Returns summed bytes/files/buckets
        when compaction ran (endurance artifacts chart these per epoch)."""
        if (
            self.table_mode == "mor"
            and self.compact_every
            and (epoch_id + 1) % self.compact_every == 0
        ):
            tot = {"compacted_buckets": 0, "compacted_files": 0,
                   "compacted_bytes": 0}
            for tbl in (self.graph_nodes, self.graph_relations,
                        self.search_documents, self.repo_files,
                        self.table_usage, self.user_sessions,
                        self.session_state):
                m = tbl.compact(max_delta_files=self.compact_max_delta_files)
                for k in tot:
                    tot[k] += m.get(k, 0)
            return tot
        return None

    def _mat(self, df: DataFrame) -> DataFrame:
        """Materialize a frame reused by several downstream jobs, per the
        configured strategy (see ctor)."""
        if self.materialize == "persist":
            df = df.persist()
            df.count()  # eager
            return df
        return df.localCheckpoint(eager=True)

    def _merge_wave(self, jobs: dict[str, tuple], epoch_id: int, channel: str,
                    tag: str) -> dict[str, Any]:
        """Apply one epoch's merges: ``jobs`` maps a name to ``(table,
        batch, merge kwargs)``. Every table is prepared concurrently (one
        wave of Spark jobs — each prepare writes a different table), then
        the manifests commit strictly in ``jobs`` order: derived tables
        first, the channel's epoch-marker table LAST. A crash between two
        commits leaves the marker unset, so the replayed epoch recomputes
        the same merges and the tables that already committed skip via their
        ledger (exactly-once). Returns each table's commit metrics by name."""
        def prepare(tbl, b, kw):
            return tbl.prepare_upsert(b, epoch_id, channel=channel,
                                      publish_tag=tag, **kw)

        with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
            futs = {name: ex.submit(prepare, *job) for name, job in jobs.items()}
            preps = {name: f.result() for name, f in futs.items()}
        return {
            name: ({"skipped_epoch": epoch_id, "channel": channel}
                   if preps[name] is None
                   else tbl.commit_prepared(preps[name]))
            for name, (tbl, _b, _kw) in jobs.items()
        }

    # -- the foreachBatch body -------------------------------------------

    def prepare_winners(self, batch: DataFrame) -> DataFrame:
        """State-independent half of an epoch: scan + LWW dedup, materialized.
        Safe to run for epoch N+1 while epoch N is still merging (it reads
        only the chunk, never table state) — :meth:`replay_batches` prefetches
        it on a side thread so the next epoch's shuffle fills the current
        epoch's driver-serial gaps."""
        return self._mat(lww_dedup_agg(batch, ENTITY_KEYS, ["event_ts", "commit"]))

    def apply_batch(self, batch: DataFrame, epoch_id: int,
                    winners: DataFrame | None = None) -> dict[str, Any]:
        t0 = time.time()
        if self.repo_files.last_epoch("cdc") >= epoch_id:
            # a replayed compact-boundary epoch must still compact: the
            # crash may have happened after the entity commit (the epoch
            # marker) but before the compaction block ran
            self._maybe_compact(epoch_id)
            return {"epoch": epoch_id, "skipped": True}

        # current state for the touched keys — INCLUDING tombstones (a deleted
        # entity must keep winning against late stale events). ONE pruned
        # point-lookup serves both the LWW gate (ordering columns) and the
        # child-diff expansion (feature columns); `content` — the widest
        # column — is never re-read after ingest.
        feature_cols = [
            f.name for f in self.repo_files.current().schema().fields
            if f.name not in ("content", "publish_tag", "updated_ms")
        ]
        if winners is not None:
            # prefetched path: dedup ran during the previous epoch;
            # the point lookup keys come from the (small, checkpointed)
            # winners frame — no raw-batch rescan at all
            old_all = self._mat(
                self.repo_files.read_for_keys(
                    winners.select(*ENTITY_KEYS), columns=feature_cols,
                )
            )
        else:
            # streaming path: dedup and old-state are independent given the
            # RAW batch's key set (same keys as the dedup output), so they
            # run CONCURRENTLY — driver-serial wall is the local-mode
            # scaling bottleneck (measured: 35% zero-task before this)
            def _dedup():
                return self.prepare_winners(batch)

            def _old_state():
                return self._mat(
                    self.repo_files.read_for_keys(
                        batch.select(*ENTITY_KEYS).dropDuplicates(ENTITY_KEYS),
                        columns=feature_cols,
                    )
                )

            with ThreadPoolExecutor(max_workers=2) as ex:
                f_w, f_o = ex.submit(_dedup), ex.submit(_old_state)
                winners, old_all = f_w.result(), f_o.result()

        # cross-batch LWW gate (north rule): a batch row takes effect ONLY if
        # its (event_ts, commit) beats the stored row's — batches may arrive
        # with older events after newer ones (file ordering, replays, multi
        # source), and an unconditional MERGE would resurrect stale state
        old_ord = old_all.selectExpr(
            "repo", "path", "event_ts AS __old_ts", "`commit` AS __old_commit")
        effective = (
            winners.join(old_ord, ENTITY_KEYS, "left")
            .where("__old_ts IS NULL"
                   " OR struct(event_ts, `commit`) > struct(__old_ts, __old_commit)")
            .drop("__old_ts", "__old_commit")
        )

        upserts = effective.where("op != 'delete'")
        deletes = effective.where("op = 'delete'").selectExpr(
            "repo", "path", "`commit`", "event_ts")

        # the new entity frame feeds the docs and entity merges and the diff
        new_entities = self._mat(
            extract_entities(upserts, self.cluster).drop("op", "shard", "event_id")
        )
        # one side-tagged entity frame feeds the node AND relation diffs. Old
        # rows are restricted to effective keys (old_all covers all winner
        # keys — children of gated-out keys must NOT enter the diff or they
        # would be deleted) and to live rows; `content` is never expanded.
        old_entities = (
            old_all.join(effective.selectExpr("repo", "path"), ENTITY_KEYS, "left_semi")
            .where("NOT is_deleted")
            .drop("is_deleted")
        )
        sides = self._mat(
            new_entities.drop("content").selectExpr("*", "true AS __new")
            .unionByName(old_entities.selectExpr("*", "false AS __new"))
        )
        side = ("__new",)
        create_only = (
            f"label IN ({', '.join(map(sql_str, self.create_only_labels))})"
            if self.create_only_labels else "false"
        )
        node_batch = _child_diff(
            validate_nodes(nodes_from_entities(sides, carry=side)),
            NODE_KEYS, (), ("label", "key"),
        ).selectExpr("*", f"{create_only} AS __create_only")
        rel_batch = _child_diff(
            validate_relations(relations_from_entities(sides, carry=side)),
            REL_KEYS, ("start_label", "end_label", "reverse_type"),
            ("type", "start_key"),
        )

        tag = f"epoch_{epoch_id}"
        doc_dels = deletes.selectExpr(
            f"{K.table_key_sql('repo', 'path', self.cluster)} AS key", "true AS __delete")
        # decorate rebuilt docs with accumulated READ usage (bucket-pruned
        # point lookup); skipped at zero cost while no usage has ever been
        # ingested (manifest-only check, no Spark job)
        u_snap = self.table_usage.current()
        usage = None
        if u_snap.files or u_snap.delta_files:
            usage = self.table_usage.read_for_keys(
                new_entities.selectExpr("table_key AS key"),
                columns=["total_usage", "unique_usage"],
            )
        doc_batch = (
            docs_from_entities(new_entities, usage)
            .selectExpr("*", "false AS __delete")
            .unionByName(doc_dels, allowMissingColumns=True)
        )
        # entity table keeps TOMBSTONES: a delete is an upsert of
        # (key, event_ts, commit, is_deleted=true) so the LWW gate keeps
        # holding against late stale events; vacuum_tombstones() reclaims
        # them once older than the lateness bound
        entity_batch = new_entities.selectExpr("*", "false AS is_deleted").unionByName(
            deletes.selectExpr("*", "true AS is_deleted"), allowMissingColumns=True
        )

        # the entity table commits LAST: it is the epoch commit marker
        committed = self._merge_wave({
            "graph_nodes": (self.graph_nodes, node_batch,
                            {"delete_col": "__delete", "create_only_col": "__create_only"}),
            "graph_relations": (self.graph_relations, rel_batch, {"delete_col": "__delete"}),
            "search_documents": (self.search_documents, doc_batch, {"delete_col": "__delete"}),
            "repo_files": (self.repo_files, entity_batch, {}),
        }, epoch_id, "cdc", tag)

        comp = self._maybe_compact(epoch_id)

        metrics = {"epoch": epoch_id, "wall_sec": round(time.time() - t0, 3),
                   **committed}
        if comp is not None:
            metrics["compaction"] = comp
        with open(os.path.join(self.metrics_dir, f"epoch_{epoch_id}.json"), "w") as f:
            json.dump(metrics, f, sort_keys=True)
        return metrics

    # -- the usage channel (BigQueryTableUsageExtractor → TableColumnUsage) --

    def apply_usage(self, usage: DataFrame, epoch_id: int) -> dict[str, Any]:
        """Ingest one micro-batch of usage deltas ``(repo, path, user_email,
        read_count)`` — the reference's audit-log usage path
        (``databuilder/extractor/bigquery_usage_extractor.py:47-110`` counts →
        ``TableColumnUsage`` READ_BY relations → search-doc usage aggregates,
        ``neo4j_search_data_extractor.py:40-42``).

        Per batch: (1) accumulate per-(table,user) counts into ``table_usage``
        (read old state for touched keys — bucket-pruned — and re-aggregate);
        (2) MERGE User nodes and Table-[READ_BY]->User relations, read_count =
        the accumulated total (idempotent overwrite, matching the reference's
        MERGE ... SET); relations only for tables that exist (the reference
        publisher's relation MERGE starts with MATCH on both nodes);
        (3) rebuild + MERGE search docs for the touched tables. Commit order:
        derived tables first, ``table_usage`` LAST as the epoch marker —
        crash-replay recomputes byte-identical merges (exactly-once)."""
        if self.table_usage.last_epoch("usage") >= epoch_id:
            return {"epoch": epoch_id, "skipped": True}

        tkey = K.table_key_sql("repo", "path", self.cluster)
        delta = (
            usage.groupBy(F.expr(f"{tkey} AS table_key"), F.col("user_email"))
            .agg(F.sum(F.col("read_count").cast("long")).alias("read_count"))
        )
        delta = self._mat(delta)
        keys = delta.select(F.col("table_key").alias("key")).dropDuplicates(["key"])

        old = self.table_usage.read_for_keys(keys, columns=["readers"]).select(
            F.col("key").alias("table_key"),
            F.explode("readers").alias("r"),
        ).select("table_key", F.col("r.user_email").alias("user_email"),
                 F.col("r.read_count").alias("read_count"))
        combined_pairs = (
            old.unionByName(delta)
            .groupBy("table_key", "user_email")
            .agg(F.sum("read_count").alias("read_count"))
        )
        combined_pairs = self._mat(combined_pairs)
        usage_rows = combined_pairs.groupBy(F.col("table_key").alias("key")).agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("user_email"), F.col("read_count")))
            ).alias("readers"),
            F.sum("read_count").alias("total_usage"),
            F.countDistinct("user_email").alias("unique_usage"),
        )

        tag = f"usage_epoch_{epoch_id}"
        # rebuild docs only for LIVE touched tables; READ_BY relations only
        # for tables whose node exists (reference publisher MATCHes both ends)
        feature_cols = [
            f.name for f in self.repo_files.current().schema().fields
            if f.name not in ("content", "publish_tag", "updated_ms")
        ]
        ents = (
            self.repo_files.read_for_keys(
                usage.select(*ENTITY_KEYS).dropDuplicates(ENTITY_KEYS),
                columns=feature_cols,
            )
            .where(~F.col("is_deleted"))
            .drop("is_deleted")
            .withColumn("content", F.lit(None).cast("string"))
        )
        ents = self._mat(ents)
        existing_keys = ents.select(F.col("table_key"))
        node_batch = validate_nodes(usage_user_nodes(delta)).drop("scope_key")
        rel_batch = validate_relations(
            usage_relations(
                combined_pairs.join(existing_keys, "table_key", "left_semi")
            )
        ).drop("scope_key")
        doc_batch = docs_from_entities(ents, usage_rows)

        committed = self._merge_wave({
            "nodes": (self.graph_nodes, node_batch, {}),
            "rels": (self.graph_relations, rel_batch, {}),
            "docs": (self.search_documents, doc_batch, {}),
            "usage": (self.table_usage, usage_rows, {}),
        }, epoch_id, "usage", tag)
        out: dict[str, Any] = {"epoch": epoch_id, **committed}
        comp = self._maybe_compact(epoch_id)
        if comp is not None:
            out["compaction"] = comp
        return out

    def apply_sessions(self, events: DataFrame, epoch_id: int,
                       gap_minutes: int = 30) -> dict[str, Any]:
        """Ingest one micro-batch of raw events ``(event_id, ts, user_id,
        value)`` into per-user sessions as an idempotent 'sessions' channel
        epoch — the pipeline wiring of ``functions/sessionize`` (and the
        exactly-once twin of ``streaming/sessions.streaming_sessionize``).

        Shape per epoch: sessionize the batch (ONE shuffle on user_id),
        read the open-session state for ONLY the touched users
        (bucket-pruned point lookups), merge the batch's first session
        into a still-open previous session when the gap allows, renumber,
        then MERGE the session rows and the new open state.  Commit order:
        ``user_sessions`` first, ``session_state`` LAST as the epoch
        marker — a crash replay recomputes the identical merge.  State
        stays O(active users); session history appends.  Contract (same
        as the streaming operator's watermark): batches arrive time-
        ordered per user — a user with stored state whose batch's first
        session starts at or before the stored session's end raises
        ``ValueError`` (naming up to 5 such users) before any table is
        prepared, so no ledger advances.
        """
        from amundsendatabuilder_spark.functions.sessionize import (
            sessionize_events,
        )

        if self.session_state.last_epoch("sessions") >= epoch_id:
            return {"epoch": epoch_id, "skipped": True}
        gap_us = int(gap_minutes) * 60 * 1_000_000

        b = (
            sessionize_events(events, gap_minutes=gap_minutes)
            .select(
                F.col("user_id").cast("long").alias("user_id"),
                F.col("session_seq").cast("long").alias("session_seq"),
                "start_us", "end_us",
                F.col("n_events").cast("long").alias("n_events"),
                F.expr("CAST(sum_value * 100 AS BIGINT)").alias("sum_cents"),
            )
        )
        b = self._mat(b)
        users = b.select("user_id").dropDuplicates(["user_id"])
        prev = self.session_state.read_for_keys(
            users, columns=["session_seq", "start_us", "end_us",
                            "n_events", "sum_cents"],
        ).select(
            "user_id", F.col("session_seq").alias("p_seq"),
            F.col("start_us").alias("p_start"), F.col("end_us").alias("p_end"),
            F.col("n_events").alias("p_n"), F.col("sum_cents").alias("p_sum"),
        )
        s_snap = self.session_state.current()
        if s_snap.files or s_snap.delta_files:
            late = [r["user_id"] for r in (
                b.where("session_seq = 1").join(prev, "user_id")
                .where("start_us <= p_end").select("user_id")
                .orderBy("user_id").limit(5).collect())]
            if late:
                raise ValueError(
                    f"apply_sessions epoch {epoch_id}: batch is not time-ordered"
                    f" per user — the first session of user(s) {late} starts at"
                    " or before the stored session's end")
        # per-user merge decision off the batch's FIRST session (strictly-
        # greater-than-gap starts a new session, so <= gap merges)
        dec = (
            b.where(F.col("session_seq") == 1)
            .join(prev, "user_id", "left")
            .select(
                "user_id",
                (F.col("p_seq").isNotNull()
                 & (F.col("start_us") - F.col("p_end") <= F.lit(gap_us))
                 ).alias("m"),
                F.coalesce(F.col("p_seq"), F.lit(0)).alias("off"),
                "p_start", "p_end", "p_n", "p_sum",
            )
        )
        first = F.col("session_seq") == 1
        merged = F.col("m") & first
        out = (
            b.join(dec, "user_id")
            .select(
                "user_id",
                (F.col("session_seq") + F.col("off")
                 - F.when(F.col("m"), F.lit(1)).otherwise(F.lit(0))
                 ).alias("session_seq"),
                F.when(merged, F.least("p_start", "start_us"))
                .otherwise(F.col("start_us")).alias("start_us"),
                F.when(merged, F.greatest("p_end", "end_us"))
                .otherwise(F.col("end_us")).alias("end_us"),
                (F.col("n_events")
                 + F.when(merged, F.col("p_n")).otherwise(F.lit(0))
                 ).alias("n_events"),
                (F.col("sum_cents")
                 + F.when(merged, F.col("p_sum")).otherwise(F.lit(0))
                 ).alias("sum_cents"),
            )
        )
        out = self._mat(out)
        state = (
            out.groupBy("user_id")
            .agg(F.max(F.struct("session_seq", "start_us", "end_us",
                                "n_events", "sum_cents")).alias("s"))
            .select("user_id", "s.session_seq", "s.start_us", "s.end_us",
                    "s.n_events", "s.sum_cents")
        )

        tag = f"sessions_epoch_{epoch_id}"
        committed = self._merge_wave({
            "sessions": (self.user_sessions, out, {}),
            "state": (self.session_state, state, {}),
        }, epoch_id, "sessions", tag)
        self._maybe_compact(epoch_id)
        return {"epoch": epoch_id, "publish_tag": tag, **committed}

    def apply_catalog(self, scan: DataFrame, epoch_id: int,
                      fs_last_updated: DataFrame | None = None) -> dict[str, Any]:
        """Ingest one catalog/metastore scan into the graph — the engine's
        composition of the reference's metadata DefaultJob (extractor →
        TableMetadata/TableLastUpdated models → Neo4jCsvPublisher), run as
        one idempotent 'catalog' channel epoch.

        ``scan``: per-column contract rows (``sources/spark_catalog``
        SCAN_SCHEMA or ``sources/jdbc`` STANDARD_COLUMNS, optionally with
        ``last_updated_epoch``). ``fs_last_updated``: optional
        ``(schema, table_name, last_updated_time)`` rows from the
        distributed fs probe — merged with the catalog timestamps, newest
        wins (``hive_table_last_updated_extractor.py``'s two-source union).
        After the merge, point :func:`operators.staleness.remove_stale_nodes`
        at ``publish_tag != 'catalog_epoch_{id}'`` to expire vanished tables
        (the CLI --catalog-scan path prints the candidate counts)."""
        from amundsendatabuilder_spark.operators.amundsen_models import (
            table_last_updated_nodes,
            table_last_updated_relations,
            table_metadata_nodes,
            table_metadata_relations,
        )
        from amundsendatabuilder_spark.sources.jdbc import (
            STANDARD_COLUMNS,
            explode_table_columns,
            regroup_to_table_metadata,
        )

        # epoch marker = the LAST-committed table (rels), same rule as
        # apply_batch/apply_usage: a crash between the nodes and rels
        # commits must NOT look complete, or the per-table ledger skip in
        # prepare_upsert never gets the chance to recover the rels
        if self.graph_relations.last_epoch("catalog") >= epoch_id:
            return {"epoch": epoch_id, "skipped": True}

        tables = regroup_to_table_metadata(scan.select(*STANDARD_COLUMNS))
        tables = self._mat(tables)
        cols = explode_table_columns(tables)
        nodes = table_metadata_nodes(tables, cols)
        rels = table_metadata_relations(tables, cols)

        lu = None
        if "last_updated_epoch" in scan.columns:
            lu = (
                scan.where(F.col("last_updated_epoch").isNotNull())
                .select("cluster", F.col("database").alias("db"), "schema",
                        F.col("name").alias("table_name"),
                        F.col("last_updated_epoch").alias("last_updated_time"))
                .dropDuplicates(["cluster", "db", "schema", "table_name"])
            )
        if fs_last_updated is not None:
            spine = scan.select(
                "cluster", F.col("database").alias("db"), "schema",
                F.col("name").alias("table_name"),
            ).dropDuplicates(["cluster", "db", "schema", "table_name"])
            probed = spine.join(fs_last_updated.select(
                "schema", "table_name", "last_updated_time"),
                ["schema", "table_name"])
            lu = probed if lu is None else (
                lu.unionByName(probed)
                .groupBy("cluster", "db", "schema", "table_name")
                .agg(F.max("last_updated_time").alias("last_updated_time"))
            )
        if lu is not None:
            lu = lu.withColumnRenamed("last_updated_time",
                                      "last_updated_time_epoch")
            nodes = nodes.unionByName(table_last_updated_nodes(lu))
            rels = rels.unionByName(table_last_updated_relations(lu))

        return self.apply_graph(nodes, rels, epoch_id, channel="catalog")

    def apply_graph(self, nodes: DataFrame, rels: DataFrame, epoch_id: int,
                    channel: str) -> dict[str, Any]:
        """Commit one idempotent epoch of already-expanded graph rows into
        the node/relation tables under ``channel`` (publish_tag =
        ``{channel}_epoch_{id}``) — the generic Neo4jCsvPublisher-MERGE
        analog shared by the catalog scan and the CSV fixture ingest."""
        # epoch marker = the LAST-committed table (rels), same rule as
        # apply_batch: a crash between the nodes and rels commits must not
        # look complete (prepare_upsert's per-table ledger recovers rels)
        if self.graph_relations.last_epoch(channel) >= epoch_id:
            return {"epoch": epoch_id, "skipped": True}
        tag = f"{channel}_epoch_{epoch_id}"
        committed = self._merge_wave({
            "nodes": (self.graph_nodes, validate_nodes(nodes).drop("scope_key"), {}),
            "rels": (self.graph_relations,
                     validate_relations(rels).drop("scope_key"), {}),
        }, epoch_id, channel, tag)
        return {"epoch": epoch_id, "publish_tag": tag, **committed}

    # -- search snapshot publish (ElasticsearchPublisher equivalent) --------

    def publish_search_snapshot(self, publish_tag: str = "search_snapshot") -> dict[str, Any]:
        """Full search-index rebuild + atomic swap — the one-call equivalent
        of ElasticsearchPublisher's bulk-load-into-new-index + alias flip
        (``databuilder/publisher/elasticsearch_publisher.py:74-125``):
        rebuild every TableESDocument from the graph tables
        (``docs_from_graph`` — the literal Cypher translation) and commit the
        result as ONE new ``search_documents`` manifest version. Readers
        never observe a half-built index; the incremental per-epoch doc MERGE
        continues from the new snapshot unchanged (epoch ledger carries
        over). Use after disaster recovery or a doc-shape migration, exactly
        where the reference reaches for its full republish."""
        from amundsendatabuilder_spark.operators.search_docs import docs_from_graph

        docs = docs_from_graph(self.graph_nodes.read(), self.graph_relations.read())
        return self.search_documents.replace_all(docs, publish_tag=publish_tag)

    # -- reads / maintenance ------------------------------------------------

    def current_entities(self) -> DataFrame:
        """Live (non-tombstoned) entity rows — the user-facing final state."""
        return self.repo_files.read().where(~F.col("is_deleted"))

    def expire_snapshots(self, keep_last: int = 10,
                         orphan_grace_ms: int = 3_600_000) -> dict[str, Any]:
        """Expire old manifests + orphaned data files on EVERY channel
        table (see SnapshotTable.expire_snapshots) — the maintenance call
        a long-running 10^10-event deployment schedules alongside
        compaction and tombstone vacuum."""
        out: dict[str, Any] = {}
        for tbl in (self.repo_files, self.graph_nodes, self.graph_relations,
                    self.search_documents, self.table_usage,
                    self.user_sessions, self.session_state):
            out[os.path.basename(tbl.root)] = tbl.expire_snapshots(
                keep_last=keep_last, orphan_grace_ms=orphan_grace_ms)
        return out

    def vacuum_tombstones(self, older_than_ms: int) -> dict:
        """Physically drop delete tombstones whose last update is older than
        the out-of-orderness bound (safe: no event older than the bound can
        still arrive). The CDC analogue of the staleness expiry window."""
        import time as _t

        cutoff = int(_t.time() * 1000) - older_than_ms
        return self.repo_files.delete_where(
            F.col("is_deleted") & (F.col("updated_ms") < cutoff)
        )

    # -- runners ------------------------------------------------------------

    def replay_batches(self, chunk_paths: list[str],
                       start_epoch: int = 0) -> list[dict]:
        """Batch-mode replay: one epoch per parquet chunk (resumable — applied
        epochs no-op via the ledger). Chunk i+1's scan + LWW dedup is
        prefetched on a side thread while epoch i merges — the prefetch
        touches no table state, so exactly-once and LWW gating are unaffected
        (its output is identical whenever it runs); its tasks fill the
        driver-serial gaps of the in-flight epoch."""
        def load(p: str) -> DataFrame:
            return self.spark.read.schema(CHANGELOG_SCHEMA).parquet(p)

        out: list[dict] = []
        with ThreadPoolExecutor(max_workers=1) as ex:
            fut = ex.submit(self.prepare_winners, load(chunk_paths[0])) \
                if chunk_paths else None
            for i, p in enumerate(chunk_paths):
                winners = fut.result()
                if i + 1 < len(chunk_paths):
                    fut = ex.submit(self.prepare_winners, load(chunk_paths[i + 1]))
                out.append(self.apply_batch(None, start_epoch + i, winners=winners))
        return out

    def run_stream_kafka(
        self,
        bootstrap_servers: str,
        topics: str,
        checkpoint_dir: str,
        max_offsets_per_trigger: int | None = None,
        on_bad_record: str = "drop",
        dead_letter_dir: str | None = None,
        available_now: bool = True,
    ):
        """Kafka CDC source (reference ``KafkaSourceExtractor``,
        ``kafka_source_extractor.py:22``): ``readStream.format("kafka")`` +
        the same foreachBatch body; checkpointed offsets replace the
        commit-after-publish callback (:116-131) and ``maxOffsetsPerTrigger``
        replaces the bounded poll (:136-171). Requires the
        spark-sql-kafka connector jar on the classpath (absent in this
        sandbox — the record-parse + dead-letter policy below is the tested
        part; see :func:`parse_kafka_records`)."""
        raw = (
            self.spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topics)
            .option("startingOffsets", "earliest")
        )
        if max_offsets_per_trigger:
            raw = raw.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))

        def _apply(df: DataFrame, eid: int):
            good, bad = parse_kafka_records(df)
            # epoch-keyed overwrite: a replayed epoch (crash before the
            # streaming checkpoint committed) rewrites ITS dead-letter
            # directory instead of appending duplicates
            dlq = (os.path.join(dead_letter_dir, f"epoch={eid}")
                   if dead_letter_dir else None)
            apply_bad_record_policy(bad, on_bad_record, dlq,
                                    write_mode="overwrite")
            return self.apply_batch(good, eid)

        writer = (
            raw.load().writeStream.foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .queryName("cdc_ingest_kafka")
        )
        return (writer.trigger(availableNow=True) if available_now else writer).start()

    def run_stream_usage(
        self,
        source_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 1,
        available_now: bool = True,
    ):
        """Second independent stream: usage deltas → ``apply_usage``. The
        reference runs its table-metadata and usage jobs as separate DAGs
        against the same graph; here the two streams share tables safely
        because each channel has its own epoch ledger row and its own
        checkpoint, and commits are atomic manifest swaps. Run the streams
        sequentially or interleaved — a kill anywhere replays exactly-once
        per channel (see ``test_streaming_two_channel_kill_resume``)."""
        from pyspark.sql import types as T

        stream = (
            self.spark.readStream.schema(T._parse_datatype_string(USAGE_SCHEMA))
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .option("recursiveFileLookup", "true")
            .parquet(source_dir)
        )
        writer = (
            stream.writeStream.foreachBatch(lambda df, eid: self.apply_usage(df, eid))
            .option("checkpointLocation", checkpoint_dir)
            .queryName("usage_ingest")
        )
        return (writer.trigger(availableNow=True) if available_now else writer).start()

    def run_stream(
        self,
        source_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 1,
        available_now: bool = True,
    ):
        """Structured Streaming replay: file source + checkpointed offsets +
        the epoch ledger = exactly-once end to end. ``availableNow`` drains
        the backlog in micro-batches then stops (kill-resume safe)."""
        stream = (
            self.spark.readStream.schema(CHANGELOG_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            # changelog layouts nest chunk dirs (write_changelog_chunks);
            # without this the file source silently matches zero files
            .option("recursiveFileLookup", "true")
            .parquet(source_dir)
        )
        writer = (
            stream.writeStream.foreachBatch(lambda df, eid: self.apply_batch(df, eid))
            .option("checkpointLocation", checkpoint_dir)
            .queryName("cdc_ingest")
        )
        if available_now:
            q = writer.trigger(availableNow=True).start()
        else:
            q = writer.start()
        return q
