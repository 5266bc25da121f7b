"""End-to-end CDC: replay parity, exactly-once under crash/replay, streaming
resume from checkpoint, sha256 invariant, incremental == batch-rebuild docs."""

import hashlib

import pytest
from pyspark.sql import functions as F

from amundsendatabuilder_spark.operators.search_docs import docs_from_graph
from amundsendatabuilder_spark.sources.changelog import (
    changelog_df,
    expected_final_state,
    write_changelog_chunks,
)
from amundsendatabuilder_spark.streaming.pipeline import CDCPipeline

N_EVENTS, N_ENTITIES, N_CHUNKS = 4000, 300, 4


def state_digest(df, exclude=("publish_tag", "updated_ms")):
    cols = sorted(c for c in df.columns if c not in exclude)
    rows = sorted(repr(r) for r in df.select(*cols).collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.fixture(scope="module")
def chunks(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("changelog"))
    return write_changelog_chunks(spark, d, N_EVENTS, N_CHUNKS, n_entities=N_ENTITIES), d


def test_e2e_replay_matches_expected(spark, tmp_path, chunks):
    paths, _ = chunks
    pipe = CDCPipeline(spark, str(tmp_path / "wh"), n_buckets=16)
    metrics = pipe.replay_batches(paths)
    assert all("skipped" not in m for m in metrics)

    got = pipe.current_entities()
    exp = expected_final_state(changelog_df(spark, N_EVENTS, n_entities=N_ENTITIES))
    g = {(r["repo"], r["path"]): (r["commit"], r["content"]) for r in got.collect()}
    e = {(r["repo"], r["path"]): (r["commit"], r["content"]) for r in exp.collect()}
    assert g == e

    # per-row content sha256 invariant vs reference computation (hashlib)
    for r in got.select("content", "content_sha256").limit(50).collect():
        assert hashlib.sha256(r["content"].encode()).hexdigest() == r["content_sha256"]

    # graph nodes: exactly one Table node per live entity, columns exact
    nodes = pipe.graph_nodes.read()
    tkeys = {r["key"] for r in nodes.where("label='Table'").collect()}
    assert tkeys == {f"repofs://gold.{k[0]}/{k[1]}" for k in e}
    # column nodes match the functions of the winning version
    ent = {r["table_key"]: set(r["functions"]) for r in pipe.current_entities().collect()}
    colkeys = {}
    for r in nodes.where("label='Column'").collect():
        parent, fn = r["key"].rsplit("/", 1)
        colkeys.setdefault(parent, set()).add(fn)
    assert colkeys == {k: v for k, v in ent.items() if v}

    # incremental search docs == full rebuild from the graph
    inc = pipe.search_documents.read()
    reb = docs_from_graph(nodes, pipe.graph_relations.read())
    assert state_digest(inc) == state_digest(reb.select(*[c for c in inc.columns if c in reb.columns]))

    # relations reference only existing nodes (no dangling edges)
    rels = pipe.graph_relations.read()
    nk = nodes.select("key")
    dangling = (
        rels.join(nk.withColumnRenamed("key", "start_key"), "start_key", "left_anti").count()
        + rels.join(nk.withColumnRenamed("key", "end_key"), "end_key", "left_anti").count()
    )
    assert dangling == 0


def test_replay_idempotent_and_resumable(spark, tmp_path, chunks):
    paths, _ = chunks
    pipe = CDCPipeline(spark, str(tmp_path / "wh"), n_buckets=16)
    pipe.replay_batches(paths)
    d1 = [state_digest(t.read()) for t in (pipe.repo_files, pipe.graph_nodes,
                                           pipe.graph_relations, pipe.search_documents)]
    # full re-replay of every epoch is a no-op
    metrics = pipe.replay_batches(paths)
    assert all(m.get("skipped") for m in metrics)
    d2 = [state_digest(t.read()) for t in (pipe.repo_files, pipe.graph_nodes,
                                           pipe.graph_relations, pipe.search_documents)]
    assert d1 == d2


def test_crash_between_table_commits_heals(spark, tmp_path, chunks):
    paths, _ = chunks
    clean = CDCPipeline(spark, str(tmp_path / "clean"), n_buckets=16)
    clean.replay_batches(paths)
    want = [state_digest(t.read(), exclude=("updated_ms",)) for t in
            (clean.repo_files, clean.graph_nodes, clean.graph_relations, clean.search_documents)]

    crashy = CDCPipeline(spark, str(tmp_path / "crashy"), n_buckets=16)
    crashy.replay_batches(paths[:2])
    # crash epoch 2 after nodes+relations COMMIT, before docs/entity commit
    orig = crashy.search_documents.commit_prepared
    def boom(*a, **k):
        raise RuntimeError("simulated crash")
    crashy.search_documents.commit_prepared = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        crashy.replay_batches([paths[2]], start_epoch=2)
    crashy.search_documents.commit_prepared = orig
    # replay the same epoch + the rest — must converge to the clean state
    crashy.replay_batches(paths[2:], start_epoch=2)
    got = [state_digest(t.read(), exclude=("updated_ms",)) for t in
           (crashy.repo_files, crashy.graph_nodes, crashy.graph_relations, crashy.search_documents)]
    assert got == want


@pytest.mark.parametrize("channel", ["usage", "graph"])
def test_crash_between_wave_commits_heals(spark, tmp_path, channel):
    """Every channel commits through the same prepare→commit wave: a crash
    after the derived tables committed but before the channel's epoch-marker
    table (table_usage for usage, graph_relations for a graph channel)
    converges, on replay of the epoch, to the state of an uncrashed run."""
    import datetime

    from amundsendatabuilder_spark.operators.models import NODE_SCHEMA, REL_SCHEMA
    from amundsendatabuilder_spark.sources.changelog import CHANGELOG_SCHEMA
    from amundsendatabuilder_spark.streaming.pipeline import USAGE_SCHEMA

    tables = ("repo_files", "graph_nodes", "graph_relations",
              "search_documents", "table_usage")
    if channel == "usage":
        marker, derived, ledger = "table_usage", (
            "graph_nodes", "graph_relations", "search_documents"), "usage"
    else:
        marker, derived, ledger = "graph_relations", ("graph_nodes",), "fixture"

    def pipeline(name):
        pipe = CDCPipeline(spark, str(tmp_path / name), n_buckets=4)
        if channel == "usage":  # two live tables for usage to land on
            ts = datetime.datetime(2024, 1, 2)
            pipe.apply_batch(spark.createDataFrame(
                [(1, ts, "insert", "r1", "p1", "c1", "python",
                  "def f(x):\n    return x  # alpha\n", 0),
                 (2, ts, "insert", "r1", "p2", "c2", "python",
                  "def g(x):\n    return x  # beta\n", 0)], CHANGELOG_SCHEMA), 0)
        return pipe

    def apply(pipe, epoch):
        if channel == "usage":
            rows = ([("r1", "p1", "alice@x.com", 3), ("r1", "p2", "bob@x.com", 2)]
                    if epoch == 0 else
                    [("r1", "p1", "alice@x.com", 4), ("r1", "p1", "carol@x.com", 1)])
            return pipe.apply_usage(spark.createDataFrame(rows, USAGE_SCHEMA), epoch)
        nodes = spark.createDataFrame(
            [(f"t{j}", "Table", {"name": f"t{j}_e{epoch}"}, {}, None)
             for j in range(epoch, epoch + 3)], NODE_SCHEMA)
        rels = spark.createDataFrame(
            [(f"t{j}", "Table", f"u{j}", "User", "READ_BY", "READ",
              {"read_count": str(epoch)}, {}, None)
             for j in range(epoch, epoch + 3)], REL_SCHEMA)
        return pipe.apply_graph(nodes, rels, epoch, channel=ledger)

    def digests(pipe):
        return [state_digest(getattr(pipe, t).read(), exclude=("updated_ms",))
                for t in tables]

    clean = pipeline("clean")
    apply(clean, 0)
    apply(clean, 1)

    crashy = pipeline("crashy")
    apply(crashy, 0)
    tbl = getattr(crashy, marker)
    orig = tbl.commit_prepared
    def boom(*a, **k):
        raise RuntimeError("simulated crash")
    tbl.commit_prepared = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        apply(crashy, 1)
    tbl.commit_prepared = orig
    assert [getattr(crashy, t).last_epoch(ledger) for t in derived] == [1] * len(derived)
    assert tbl.last_epoch(ledger) == 0
    # replay the crashed epoch: committed tables skip, the marker commits
    apply(crashy, 1)
    assert tbl.last_epoch(ledger) == 1
    assert digests(crashy) == digests(clean)


def test_streaming_resume_from_checkpoint(spark, tmp_path, chunks):
    paths, _ = chunks
    import shutil

    src = tmp_path / "stream_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    pipe = CDCPipeline(spark, str(tmp_path / "wh"), n_buckets=16)

    import glob

    def land(chunk_dir):
        name = chunk_dir.split("/")[-1]
        for f in glob.glob(chunk_dir + "/*.parquet"):
            shutil.copy(f, src / f"{name}_{f.split('/')[-1]}")

    # phase 1: only half the chunks exist; drain, then "the process dies"
    for p in paths[:2]:
        land(p)
    q = pipe.run_stream(str(src), ckpt, max_files_per_trigger=4)
    q.awaitTermination()
    mid = pipe.current_entities().count()
    assert mid > 0

    # phase 2: rest of the backlog arrives; resume from the same checkpoint
    for p in paths[2:]:
        land(p)
    q = pipe.run_stream(str(src), ckpt, max_files_per_trigger=4)
    q.awaitTermination()

    exp = expected_final_state(changelog_df(spark, N_EVENTS, n_entities=N_ENTITIES))
    g = {(r["repo"], r["path"]): r["commit"] for r in pipe.current_entities().collect()}
    e = {(r["repo"], r["path"]): r["commit"] for r in exp.collect()}
    assert g == e


def test_cross_epoch_out_of_order_replay(spark, tmp_path, chunks):
    """LWW must hold ACROSS micro-batches: replaying the chunks in reverse
    order (oldest events arriving last) converges to the same final state."""
    paths, _ = chunks
    fwd = CDCPipeline(spark, str(tmp_path / "fwd"), n_buckets=16)
    fwd.replay_batches(paths)
    rev = CDCPipeline(spark, str(tmp_path / "rev"), n_buckets=16)
    rev.replay_batches(list(reversed(paths)))
    dig = lambda p: state_digest(p.current_entities())
    assert dig(fwd) == dig(rev)
    # and both equal the declarative ground truth
    exp = expected_final_state(changelog_df(spark, N_EVENTS, n_entities=N_ENTITIES))
    g = {(r["repo"], r["path"]): r["commit"] for r in rev.current_entities().collect()}
    e = {(r["repo"], r["path"]): r["commit"] for r in exp.collect()}
    assert g == e


def test_mor_pipeline_matches_cow(spark, tmp_path, chunks):
    """merge-on-read table mode converges to the same final state as CoW,
    including compaction mid-replay."""
    paths, _ = chunks
    cow = CDCPipeline(spark, str(tmp_path / "cow"), n_buckets=16)
    cow.replay_batches(paths)
    mor = CDCPipeline(spark, str(tmp_path / "mor"), n_buckets=16,
                      table_mode="mor", compact_every=2, compact_max_delta_files=0)
    mor.replay_batches(paths)
    for a, b in [
        (cow.current_entities(), mor.current_entities()),
        (cow.graph_nodes.read(), mor.graph_nodes.read()),
        (cow.graph_relations.read(), mor.graph_relations.read()),
        (cow.search_documents.read(), mor.search_documents.read()),
    ]:
        assert state_digest(a) == state_digest(b)
    # mor replay is resumable/idempotent too
    m = mor.replay_batches(paths)
    assert all(x.get("skipped") for x in m)


def test_delete_last_row_and_all_stale_batches(spark, tmp_path):
    """ADVICE r01: (a) a batch that deletes the only row in its bucket and
    (b) an all-stale (fully gated-out) batch both commit cleanly — streaming
    replay can't get permanently stuck on an empty merge plan."""
    import datetime

    from amundsendatabuilder_spark.sources.changelog import CHANGELOG_SCHEMA

    pipe = CDCPipeline(spark, str(tmp_path / "wh"), n_buckets=4)
    ins = [(1, datetime.datetime(2024, 1, 2), "insert", "r1", "p1", "c1",
            "python", "def f(x):\n    return x\n", 0)]
    dele = [(2, datetime.datetime(2024, 1, 3), "delete", "r1", "p1", "c2",
             "python", None, 0)]
    stale = [(3, datetime.datetime(2024, 1, 1), "update", "r1", "p1", "c0",
              "python", "def old(x):\n    return x\n", 0)]
    pipe.apply_batch(spark.createDataFrame(ins, CHANGELOG_SCHEMA), 0)
    m1 = pipe.apply_batch(spark.createDataFrame(dele, CHANGELOG_SCHEMA), 1)
    assert "skipped" not in m1
    assert pipe.current_entities().count() == 0
    assert pipe.graph_nodes.read().where("label='Table'").count() == 0
    # all-stale batch: older than the tombstone -> fully gated out, still commits
    m2 = pipe.apply_batch(spark.createDataFrame(stale, CHANGELOG_SCHEMA), 2)
    assert "skipped" not in m2
    assert pipe.current_entities().count() == 0
    assert pipe.repo_files.last_epoch("cdc") == 2


def test_duplicate_function_names_single_column_node(spark, tmp_path):
    """ADVICE r01: duplicate function names in one file must not produce
    duplicate Column-node keys in the merged graph."""
    import datetime

    from amundsendatabuilder_spark.sources.changelog import CHANGELOG_SCHEMA

    pipe = CDCPipeline(spark, str(tmp_path / "wh"), n_buckets=4)
    content = "def dup(x):\n    return x\ndef dup(x):\n    return x\ndef other(x):\n    return x\n"
    rows = [(1, datetime.datetime(2024, 1, 2), "insert", "r1", "p1", "c1",
             "python", content, 0)]
    pipe.apply_batch(spark.createDataFrame(rows, CHANGELOG_SCHEMA), 0)
    cols = pipe.graph_nodes.read().where("label='Column'").collect()
    assert sorted(r["key"].rsplit("/", 1)[1] for r in cols) == ["dup", "other"]
    per_key = pipe.graph_nodes.read().groupBy("key").count().where("count > 1").count()
    assert per_key == 0


def _graph_sets(pipe):
    nodes = {(r["key"], r["label"]) for r in pipe.graph_nodes.read().collect()}
    rels = {(r["start_key"], r["end_key"], r["type"])
            for r in pipe.graph_relations.read().collect()}
    return nodes, rels


def _expected_graph(files, users):
    """Exact graph of the live ``files`` {path: (owner, functions, commented)}
    in repo ``r1``; ``users`` are the shared User nodes ever created."""
    sch = "repofs://gold.r1"
    nodes = {("database://repofs", "Database"), ("repofs://gold", "Cluster"),
             (sch, "Schema")} | {(u, "User") for u in users}
    rels = {("database://repofs", "repofs://gold", "CLUSTER"),
            ("repofs://gold", sch, "SCHEMA")}
    for path, (owner, fns, commented) in files.items():
        tk = f"{sch}/{path}"
        nodes |= {(tk, "Table"), (f"{tk}/_description", "Description"),
                  (f"{tk}/timestamp", "Timestamp"),
                  (f"{tk}/high_watermark/", "Watermark")}
        rels |= {(sch, tk, "TABLE"), (tk, f"{tk}/_description", "DESCRIPTION"),
                 (owner, tk, "OWNER_OF"), (tk, f"{tk}/timestamp", "LAST_UPDATED_AT"),
                 (f"{tk}/high_watermark/", tk, "BELONG_TO_TABLE")}
        for fn in fns:
            nodes.add((f"{tk}/{fn}", "Column"))
            rels.add((tk, f"{tk}/{fn}", "COLUMN"))
            if commented:
                nodes.add((f"{tk}/{fn}/_description", "Description"))
                rels.add((f"{tk}/{fn}", f"{tk}/{fn}/_description", "DESCRIPTION"))
    return nodes, rels


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_child_diff_exact_per_epoch(spark, tmp_path, mode):
    """The per-epoch child diff deletes exactly the scoped nodes/relations
    the new entity state no longer produces: a shrunk file loses only its
    dropped column's rows, a stale update changes nothing, a deleted file
    loses all of its scoped rows while shared nodes stay."""
    import datetime

    from amundsendatabuilder_spark.sources.changelog import CHANGELOG_SCHEMA

    def body(fns, comment_on):
        # the extractor pairs trailing comments with functions only when
        # every function carries one; otherwise no column descriptions
        return "# module\n" + "".join(
            f"def {fn}(x):\n    return x{'  # ' + fn + ' doc' if fn in comment_on else ''}\n"
            for fn in fns)

    def ev(i, day, op, path, commit, content):
        return (i, datetime.datetime(2024, 1, day), op, "r1", path, commit,
                "python", content, 0)

    def apply(rows, epoch):
        pipe.apply_batch(spark.createDataFrame(rows, CHANGELOG_SCHEMA), epoch)
        return _graph_sets(pipe)

    # owner = user_{int(commit[:4], 16) % 50}: a.py's versions share one owner
    own_a, own_b = "user_1@example.com", "user_2@example.com"
    users = {own_a, own_b}
    a3, b3 = ["alpha", "beta", "gamma"], ["delta", "eps", "zeta"]
    pipe = CDCPipeline(spark, str(tmp_path / "wh"), n_buckets=4, table_mode=mode)

    first = apply([ev(1, 2, "insert", "a.py", "0001aa", body(a3, a3)),
                   ev(2, 2, "insert", "b.py", "0002bb", body(b3, ["zeta"]))], 0)
    assert first == _expected_graph(
        {"a.py": (own_a, a3, True), "b.py": (own_b, b3, False)}, users)

    # shrink a.py: exactly gamma's Column + Description nodes and its
    # COLUMN + DESCRIPTION relations go
    got = apply([ev(3, 3, "update", "a.py", "0001cc", body(a3[:2], a3))], 1)
    want = _expected_graph(
        {"a.py": (own_a, a3[:2], True), "b.py": (own_b, b3, False)}, users)
    assert got == want
    tk = "repofs://gold.r1/a.py"
    assert first[0] - got[0] == {(f"{tk}/gamma", "Column"),
                                 (f"{tk}/gamma/_description", "Description")}
    assert first[1] - got[1] == {
        (tk, f"{tk}/gamma", "COLUMN"),
        (f"{tk}/gamma", f"{tk}/gamma/_description", "DESCRIPTION")}

    # stale update (older than the stored row): the graph does not change
    before = [state_digest(t.read()) for t in (pipe.graph_nodes, pipe.graph_relations)]
    assert apply([ev(4, 1, "update", "a.py", "0001dd", body(["omega"], []))], 2) == want
    assert [state_digest(t.read()) for t in (pipe.graph_nodes, pipe.graph_relations)] == before

    # delete b.py: all of its scoped rows go; shared nodes (its User too)
    # and a.py's rows stay
    got = apply([ev(5, 4, "delete", "b.py", "0002ee", None)], 3)
    assert got == _expected_graph({"a.py": (own_a, a3[:2], True)}, users)


def test_usage_channel_wires_search_doc_usage(spark, tmp_path):
    """VERDICT r01: READ usage must flow into search docs (SUM read_count /
    COUNT DISTINCT reader — neo4j_search_data_extractor.py:40-42), accumulate
    across usage batches, survive later CDC rebuilds of the doc, and be
    exactly-once under epoch replay."""
    import datetime

    from amundsendatabuilder_spark.sources.changelog import CHANGELOG_SCHEMA

    pipe = CDCPipeline(spark, str(tmp_path / "wh"), n_buckets=4)
    ins = [
        (1, datetime.datetime(2024, 1, 2), "insert", "r1", "p1", "c1",
         "python", "def f(x):\n    return x  # alpha beta\n", 0),
        (2, datetime.datetime(2024, 1, 2), "insert", "r1", "p2", "c2",
         "python", "def g(x):\n    return x  # gamma delta\n", 0),
    ]
    pipe.apply_batch(spark.createDataFrame(ins, CHANGELOG_SCHEMA), 0)

    usage_schema = "repo string, path string, user_email string, read_count long"
    u0 = spark.createDataFrame(
        [("r1", "p1", "alice@x.com", 3), ("r1", "p1", "bob@x.com", 2),
         ("r1", "ghost", "alice@x.com", 9)],  # unknown table: state only
        usage_schema,
    )
    pipe.apply_usage(u0, 0)
    docs = {r["key"]: r for r in pipe.search_documents.read().collect()}
    k1 = "repofs://gold.r1/p1"
    assert docs[k1]["total_usage"] == 5 and docs[k1]["unique_usage"] == 2
    assert docs["repofs://gold.r1/p2"]["total_usage"] == 0
    # READ_BY rels only for existing tables, read_count accumulated
    rels = {(r["start_key"], r["end_key"]): r["attributes"]["read_count"]
            for r in pipe.graph_relations.read().where("type='READ_BY'").collect()}
    assert rels == {(k1, "alice@x.com"): "3", (k1, "bob@x.com"): "2"}

    # second usage batch accumulates; replay of epoch 0 is a no-op
    assert pipe.apply_usage(u0, 0).get("skipped")
    u1 = spark.createDataFrame([("r1", "p1", "alice@x.com", 4)], usage_schema)
    pipe.apply_usage(u1, 1)
    docs = {r["key"]: r for r in pipe.search_documents.read().collect()}
    assert docs[k1]["total_usage"] == 9 and docs[k1]["unique_usage"] == 2
    rels = {(r["start_key"], r["end_key"]): r["attributes"]["read_count"]
            for r in pipe.graph_relations.read().where("type='READ_BY'").collect()}
    assert rels[(k1, "alice@x.com")] == "7"

    # a later CDC update rebuilds the doc — usage must survive
    upd = [(3, datetime.datetime(2024, 1, 3), "update", "r1", "p1", "c3",
            "python", "def f2(x):\n    return x  # new body\n", 0)]
    pipe.apply_batch(spark.createDataFrame(upd, CHANGELOG_SCHEMA), 1)
    docs = {r["key"]: r for r in pipe.search_documents.read().collect()}
    assert docs[k1]["total_usage"] == 9 and docs[k1]["unique_usage"] == 2
    assert docs[k1]["column_names"] == ["f2"]
    assert docs[k1]["column_descriptions"] == ["new body"]
    # incremental docs still equal the full graph rebuild (usage included)
    reb = {r["key"]: r for r in docs_from_graph(
        pipe.graph_nodes.read(), pipe.graph_relations.read()).collect()}
    assert reb[k1]["total_usage"] == 9 and reb[k1]["unique_usage"] == 2
    assert reb[k1]["column_descriptions"] == ["new body"]


def test_kafka_record_parse_and_dead_letter(spark, tmp_path):
    """Kafka record parse + transformer_thrown_exception policy
    (kafka_source_extractor.py:107-114): drop / fail / dead-letter sink."""
    import json as _json

    import pytest

    from amundsendatabuilder_spark.streaming.pipeline import (
        apply_bad_record_policy,
        parse_kafka_records,
    )

    ok = _json.dumps({"event_id": 1, "event_ts": "2024-01-02T00:00:00.000Z",
                      "op": "insert", "repo": "r1", "path": "p1",
                      "commit": "c1", "lang": "python",
                      "content": "def f(x):\n    return x\n", "shard": 0})
    rows = [(b"k1", ok.encode(), "t", 0, 100),
            (b"k2", b"{not json", "t", 0, 101),
            (b"k3", b'{"other": 1}', "t", 1, 7)]
    raw = spark.createDataFrame(
        rows, "key binary, value binary, topic string, partition int, offset long"
    )
    good, bad = parse_kafka_records(raw)
    g = good.collect()
    assert len(g) == 1 and g[0]["repo"] == "r1" and g[0]["event_id"] == 1
    assert good.columns[: 3] == ["event_id", "event_ts", "op"]
    b = bad.collect()
    assert {x["offset"] for x in b} == {101, 7}

    # drop: no jobs, nothing recorded
    assert apply_bad_record_policy(bad) == 0
    # dead-letter: raw records preserved with source coordinates
    dl = str(tmp_path / "dead")
    apply_bad_record_policy(bad, on_bad_record="drop", dead_letter_dir=dl)
    kept = spark.read.parquet(dl)
    assert kept.count() == 2 and set(kept.columns) == {"__raw", "topic", "partition", "offset"}
    # fail: poisoned batch aborts loudly
    with pytest.raises(ValueError, match="malformed changelog record"):
        apply_bad_record_policy(bad, on_bad_record="fail")
    # and a fully-clean batch passes every policy
    _, clean_bad = parse_kafka_records(
        spark.createDataFrame([(b"k", ok.encode(), "t", 0, 1)],
                              "key binary, value binary, topic string, partition int, offset long"))
    assert apply_bad_record_policy(clean_bad, on_bad_record="fail") == 0


def test_persist_materialization_matches_default(spark, tmp_path, chunks):
    """materialize='persist' (fault-tolerant lineage) converges to the same
    state as the localCheckpoint default."""
    paths, _ = chunks
    a = CDCPipeline(spark, str(tmp_path / "a"), n_buckets=16)
    a.replay_batches(paths[:2])
    b = CDCPipeline(spark, str(tmp_path / "b"), n_buckets=16, materialize="persist")
    b.replay_batches(paths[:2])
    assert state_digest(a.current_entities()) == state_digest(b.current_entities())
    assert state_digest(a.search_documents.read()) == state_digest(b.search_documents.read())


def test_custom_manifest_io_is_used(spark, tmp_path):
    """ManifestIO is pluggable (object-store commit abstraction)."""
    from amundsendatabuilder_spark.plans.lake import ManifestIO, SnapshotLake
    from pyspark.sql import types as T

    calls = {"swaps": 0}

    class CountingIO(ManifestIO):
        def swap_pointer(self, pointer_path, content):
            calls["swaps"] += 1
            super().swap_pointer(pointer_path, content)

    lake = SnapshotLake(spark, str(tmp_path / "wh"), manifest_io=CountingIO())
    sch = T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.StringType())])
    t = lake.create_table("t", sch, ["k"], n_buckets=4)
    t.merge_upsert(spark.createDataFrame([("a", "1")], sch), 0)
    assert calls["swaps"] == 2  # create + one merge commit
    assert {r["k"] for r in lake.table("t").read().collect()} == {"a"}


def test_publish_search_snapshot_atomic_swap(spark, tmp_path, chunks):
    """ElasticsearchPublisher equivalent: full doc rebuild published as ONE
    manifest version (alias-swap semantics, elasticsearch_publisher.py:112-125).
    A reader holding the pre-swap version still resolves the old complete
    index; the post-swap read equals the rebuild; the incremental pipeline
    keeps running on top."""
    paths, _ = chunks
    pipe = CDCPipeline(spark, str(tmp_path / "wh"), n_buckets=16)
    pipe.replay_batches(paths[:3])

    before = pipe.search_documents.current()
    old_rows = state_digest(pipe.search_documents.read())

    m = pipe.publish_search_snapshot(publish_tag="rebuild_1")
    after = pipe.search_documents.current()
    # exactly ONE new version — the swap is a single pointer move
    assert after.version == before.version + 1
    assert after.parent == before.version
    assert m["snapshot_buckets"] == len(after.files)

    # post-swap state == the batch rebuild from the graph
    rebuilt = docs_from_graph(pipe.graph_nodes.read(), pipe.graph_relations.read())
    got = pipe.search_documents.read()
    assert state_digest(got) == state_digest(
        rebuilt.select(*[c for c in got.columns if c in rebuilt.columns]))
    assert {r["publish_tag"] for r in got.select("publish_tag").collect()} == {"rebuild_1"}

    # a reader pinned to the PRE-swap manifest still sees the full old index
    # (old data files are untouched on disk)
    pinned = pipe.search_documents._read_files(
        pipe.search_documents._all_files(before), before.schema())
    assert state_digest(pinned) == old_rows

    # epoch ledger carried over: replaying an applied chunk is a no-op, the
    # next chunk applies incrementally on top of the snapshot
    assert pipe.search_documents.last_epoch("cdc") == 2
    pipe.replay_batches(paths)  # chunks 0-2 skip, chunk 3 applies
    assert pipe.search_documents.last_epoch("cdc") == 3
    final = docs_from_graph(pipe.graph_nodes.read(), pipe.graph_relations.read())
    got2 = pipe.search_documents.read()
    assert state_digest(got2) == state_digest(
        final.select(*[c for c in got2.columns if c in final.columns]))


def test_streaming_two_channel_kill_resume(spark, tmp_path, chunks):
    """VERDICT r02 #9: interleaved cdc + usage STREAMS with a kill between —
    the per-channel epoch ledgers + per-stream checkpoints give exactly-once
    end to end; the final state equals running both channels cleanly."""
    import glob
    import shutil

    from amundsendatabuilder_spark.streaming.pipeline import USAGE_SCHEMA

    paths, _ = chunks
    usage_rows = [
        [("r_u0", "p", "alice@x.com", 3), ("org/project-000", "src/mod_00/file_0.txt", "bob@x.com", 2)],
        [("org/project-000", "src/mod_00/file_0.txt", "bob@x.com", 5)],
    ]

    def land_usage(src_dir, i):
        spark.createDataFrame(usage_rows[i], USAGE_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(f"{src_dir}/u{i}")

    def run(tag, kill_after_first_usage):
        wh = str(tmp_path / f"wh_{tag}")
        cdc_src = tmp_path / f"cdc_src_{tag}"; cdc_src.mkdir()
        u_src = tmp_path / f"u_src_{tag}"; u_src.mkdir()
        cdc_ckpt = str(tmp_path / f"cdc_ckpt_{tag}")
        u_ckpt = str(tmp_path / f"u_ckpt_{tag}")
        pipe = CDCPipeline(spark, wh, n_buckets=16)

        def land_cdc(chunk_dir):
            name = chunk_dir.split("/")[-1]
            for f in glob.glob(chunk_dir + "/*.parquet"):
                shutil.copy(f, cdc_src / f"{name}_{f.split('/')[-1]}")

        # interleave: cdc chunks 0-1 -> usage 0 -> (kill?) -> cdc 2-3 -> usage 1
        for p in paths[:2]:
            land_cdc(p)
        pipe.run_stream(str(cdc_src), cdc_ckpt, max_files_per_trigger=4).awaitTermination()
        land_usage(u_src, 0)
        pipe.run_stream_usage(str(u_src), u_ckpt).awaitTermination()
        if kill_after_first_usage:
            # "the process dies": a fresh pipeline object resumes from the
            # same warehouse + checkpoints (ledgers make replays no-ops)
            pipe = CDCPipeline(spark, wh, n_buckets=16)
            # re-drain both backlogs — everything already applied must skip
            pipe.run_stream(str(cdc_src), cdc_ckpt, max_files_per_trigger=4).awaitTermination()
            pipe.run_stream_usage(str(u_src), u_ckpt).awaitTermination()
        for p in paths[2:]:
            land_cdc(p)
        pipe.run_stream(str(cdc_src), cdc_ckpt, max_files_per_trigger=4).awaitTermination()
        land_usage(u_src, 1)
        pipe.run_stream_usage(str(u_src), u_ckpt).awaitTermination()
        return pipe

    clean = run("clean", kill_after_first_usage=False)
    killed = run("killed", kill_after_first_usage=True)
    # publish_tag excluded: the killed run's extra (empty) drain advances the
    # streaming batch id, so later epochs carry different tags on identical
    # state — exactly-once is about STATE parity
    for t in ("repo_files", "graph_nodes", "graph_relations", "search_documents",
              "table_usage"):
        assert state_digest(getattr(clean, t).read()) == \
            state_digest(getattr(killed, t).read()), t

    # usage accumulated across the two usage epochs on the live entity
    k = "repofs://gold.org/project-000/src/mod_00/file_0.txt"
    docs = {r["key"]: r for r in killed.search_documents.read().collect()}
    if k in docs:  # entity may have been deleted by the changelog LWW
        assert docs[k]["total_usage"] >= 7
