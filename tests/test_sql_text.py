"""The epoch and point-read paths build their expressions as SQL text:
values spliced into that text are quoted (cluster names, publish tags,
regexes, column names), the SQL key forms agree with the plain-string ones,
and the driver's Py4J round trips per epoch and per point-read build stay
within budget."""

import datetime

import py4j.clientserver as cs
import pytest
from pyspark.sql import types as T

from amundsendatabuilder_spark.functions import keys as K
from amundsendatabuilder_spark.functions.sqltext import sql_ident, sql_str, sql_type
from amundsendatabuilder_spark.plans.lake import SnapshotLake
from amundsendatabuilder_spark.sources.changelog import CHANGELOG_SCHEMA
from amundsendatabuilder_spark.streaming.pipeline import CDCPipeline

CLUSTER = "go'ld\\x"
# python: default `def (\w+)\(` pattern; trailing `# comment` per body; header
# ` v42\n` for the version watermark (every pattern carries backslashes)
PY = "# mod v42\ndef alpha(x):\n    return x  # first one\ndef beta_2(y):\n    return y  #   second\n"
JAVA = "// svc v7\nint gamma(int a) {\n  return a; # c3\n}\n"
PY2 = "def gamma_x(z):\n    return z\n v3\n"


def _ev(i, day, op, repo, path, lang, content):
    return (i, datetime.datetime(2024, 1, day), op, repo, path, f"c{i:03d}",
            lang, content, 0)


def _batch(spark, rows):
    return spark.createDataFrame(rows, CHANGELOG_SCHEMA)


E0 = [_ev(1, 2, "insert", "r1", "a.py", "python", PY),
      _ev(2, 2, "insert", "r1", "B.java", "java", JAVA),
      _ev(3, 2, "insert", "r2", "c.py", "python", "x = 1\n")]
E1 = [_ev(4, 3, "delete", "r1", "a.py", "python", None),
      _ev(5, 3, "update", "r2", "c.py", "python", PY2)]


def test_sql_key_forms_agree_with_str_forms(spark):
    vals = ["o'k", "b\\s", 'q"d', "t`k", "\\'", "''", "plain"]
    combos = [(s, vals[i - 1], c) for i, s in enumerate(vals) for c in (K.CLUSTER, CLUSTER)]
    exprs, want = [], []
    for i, (s, t, c) in enumerate(combos):
        exprs += [f"{K.table_key_sql(sql_str(s), sql_str(t), c)} AS t{i}",
                  f"{K.schema_key_sql(sql_str(s), c)} AS s{i}"]
        want += [K.table_key_str(s, t, c), K.schema_key_str(s, c)]
    assert list(spark.range(1).selectExpr(*exprs).first()) == want
    # identifiers and types: a column name with a backtick, dot and space
    odd = "we`ird.c ol"
    df = spark.createDataFrame([(1,)], [odd])
    st = T.StructType([T.StructField(odd, T.MapType(T.StringType(), T.LongType()))])
    row = df.selectExpr(f"{sql_ident(odd)} + 1 AS x", f"CAST(NULL AS {sql_type(st)}) AS y")
    assert row.schema["y"].dataType == st and row.first()["x"] == 2


def _count_py4j():
    """Patch Py4J's client-server send path with a round-trip counter;
    returns the counter and the function that restores the original."""
    calls = [0]
    orig = cs.ClientServerConnection.send_command

    def counting(self, command, *a, **kw):
        calls[0] += 1
        return orig(self, command, *a, **kw)

    cs.ClientServerConnection.send_command = counting
    return calls, lambda: setattr(cs.ClientServerConnection, "send_command", orig)


@pytest.fixture(scope="module")
def mor_run(spark, tmp_path_factory):
    """Two MoR epochs with the quoted cluster; the Py4J round trips of the
    warm second epoch and of building one point read are counted."""
    pipe = CDCPipeline(spark, str(tmp_path_factory.mktemp("sqltext") / "wh"),
                       n_buckets=8, cluster=CLUSTER, table_mode="mor")
    pipe.apply_batch(_batch(spark, E0), 0)
    calls, restore = _count_py4j()
    try:
        pipe.apply_batch(_batch(spark, E1), 1)
        epoch, calls[0] = calls[0], 0
        pipe.search_documents.read_where(
            [("key", "=", K.table_key_str("r2", "c.py", CLUSTER))])
        read = calls[0]
    finally:
        restore()
    return pipe, epoch, read


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_quoted_cluster_and_regexes_through_the_pipeline(spark, tmp_path, mode, mor_run):
    if mode == "mor":
        pipe = mor_run[0]
    else:
        pipe = CDCPipeline(spark, str(tmp_path / "wh"), n_buckets=4,
                           cluster=CLUSTER, table_mode=mode)
        pipe.apply_batch(_batch(spark, E0), 0)
        pipe.apply_batch(_batch(spark, E1), 1)

    tk = {(r, p): K.table_key_str(r, p, CLUSTER) for r, p in [("r1", "B.java"), ("r2", "c.py")]}
    ents = {(r["repo"], r["path"]): r for r in pipe.current_entities().collect()}
    assert set(ents) == set(tk)
    for (repo, path), r in ents.items():
        assert r["table_key"] == tk[(repo, path)]
        assert r["schema_key"] == K.schema_key_str(repo, CLUSTER)
        assert r["cluster_key"] == K.cluster_key_str(CLUSTER)
        assert r["cluster"] == CLUSTER
    java, py2 = ents[("r1", "B.java")], ents[("r2", "c.py")]
    assert (java["functions"], java["fn_comments"], java["version"]) == (["gamma"], ["c3"], 7)
    assert java["description"] == "// svc v7"
    assert (py2["functions"], py2["fn_comments"], py2["version"]) == (["gamma_x"], [None], 3)

    nodes = {(r["key"], r["label"]) for r in pipe.graph_nodes.read().collect()}
    assert {k for k, lbl in nodes if lbl == "Table"} == set(tk.values())
    assert {k for k, lbl in nodes if lbl == "Schema"} == {
        K.schema_key_str("r1", CLUSTER), K.schema_key_str("r2", CLUSTER)}
    assert {k for k, lbl in nodes if lbl == "Cluster"} == {K.cluster_key_str(CLUSTER)}
    assert {k for k, lbl in nodes if lbl == "Column"} == {
        tk[("r1", "B.java")] + "/gamma", tk[("r2", "c.py")] + "/gamma_x"}
    # the deleted file's doc went through the SQL key of the delete rows
    docs = {r["key"]: r for r in pipe.search_documents.read().collect()}
    assert set(docs) == set(tk.values())
    assert {d["cluster"] for d in docs.values()} == {CLUSTER}
    pt = pipe.search_documents.read_where([("key", "=", tk[("r1", "B.java")])]).collect()
    assert [(r["name"], r["column_descriptions"]) for r in pt] == [("B.java", ["c3"])]


def test_python_regexes_and_quoted_publish_tag(spark, tmp_path):
    from amundsendatabuilder_spark.operators.extract import extract_entities

    e = extract_entities(_batch(spark, E0[:1]), CLUSTER).first()
    assert (e["functions"], e["fn_comments"], e["version"]) == (
        ["alpha", "beta_2"], ["first one", "second"], 42)
    assert e["description"] == "# mod v42"

    tag = "t'ag\\"
    schema = T.StructType([T.StructField("key", T.StringType()),
                           T.StructField("v", T.LongType())])
    lake = SnapshotLake(spark, str(tmp_path / "wh"))
    for mode in ("mor", "cow"):
        t = lake.create_table(f"t_{mode}", schema, ["key"], n_buckets=2, mode=mode)
        t.merge_upsert(spark.createDataFrame([("a", 1), ("b", 2)], schema), 0,
                       publish_tag=tag)
        assert {r["publish_tag"] for r in t.read().collect()} == {tag}


def test_py4j_round_trip_budget(mor_run):
    """Building one warm MoR epoch and one point read stays within a Py4J
    round-trip budget: a Column-built expression costs several JVM calls
    per node, so a reintroduced Column-builder chain blows it. The ceilings
    are ~1.5x the counts measured on this shape (epoch ~1,760, point-read
    build 110); the Column-built code made ~11,770 and ~1,260."""
    _pipe, epoch, read = mor_run
    assert epoch <= 2_600, f"{epoch} Py4J round trips for one epoch"
    assert read <= 165, f"{read} Py4J round trips to build one point read"
