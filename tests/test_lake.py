"""Snapshot lake: merge semantics, exactly-once, schema evolution, deletes."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amundsendatabuilder_spark.plans.lake import ManifestIO, SnapshotLake, SnapshotTable

SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def _mk(spark, warehouse, n_buckets=8):
    lake = SnapshotLake(spark, warehouse)
    return lake, lake.create_table("t", SCHEMA, ["key"], n_buckets=n_buckets)


def rows(t):
    return {r["key"]: (r["name"], r["v"]) for r in t.read().collect()}


def test_merge_insert_update(spark, warehouse):
    lake, t = _mk(spark, warehouse)
    df = spark.createDataFrame([("a", "A", 1), ("b", "B", 1)], SCHEMA)
    m = t.merge_upsert(df, epoch_id=0)
    assert m["rows_inserted"] == 2 and m["rows_updated"] == 0
    df2 = spark.createDataFrame([("b", "B2", 2), ("c", "C", 1)], SCHEMA)
    m2 = t.merge_upsert(df2, epoch_id=1)
    assert m2["rows_inserted"] == 1 and m2["rows_updated"] == 1
    assert rows(t) == {"a": ("A", 1), "b": ("B2", 2), "c": ("C", 1)}
    # lineage columns stamped
    r = {x["key"]: x for x in t.read().collect()}
    assert r["a"]["publish_tag"] == "epoch_0"
    assert r["b"]["publish_tag"] == "epoch_1"
    assert r["b"]["updated_ms"] > 0


def test_exactly_once_epoch_replay(spark, warehouse):
    lake, t = _mk(spark, warehouse)
    df = spark.createDataFrame([("a", "A", 1)], SCHEMA)
    t.merge_upsert(df, epoch_id=5)
    v_before = t.current().version
    m = t.merge_upsert(spark.createDataFrame([("a", "GARBAGE", 99)], SCHEMA), epoch_id=5)
    assert "skipped_epoch" in m
    assert t.current().version == v_before
    assert rows(t)["a"] == ("A", 1)
    # but a different channel may apply the same epoch number
    m2 = t.merge_upsert(spark.createDataFrame([("z", "Z", 1)], SCHEMA), epoch_id=5, channel="other")
    assert m2["rows_inserted"] == 1


def test_delete_rows_via_merge(spark, warehouse):
    lake, t = _mk(spark, warehouse)
    t.merge_upsert(spark.createDataFrame([("a", "A", 1), ("b", "B", 1)], SCHEMA), 0)
    batch = spark.createDataFrame(
        [("a", None, None, True), ("x", None, None, True), ("b", "B2", 2, False)],
        T.StructType(SCHEMA.fields + [T.StructField("is_delete", T.BooleanType())]),
    )
    m = t.merge_upsert(batch, 1, delete_col="is_delete")
    assert m["rows_deleted"] == 1  # 'x' delete is a no-op, not counted
    assert rows(t) == {"b": ("B2", 2)}


def test_create_only(spark, warehouse):
    lake, t = _mk(spark, warehouse)
    t.merge_upsert(spark.createDataFrame([("a", "orig", 1)], SCHEMA), 0)
    batch = spark.createDataFrame(
        [("a", "newer", 2, True), ("b", "B", 1, True)],
        T.StructType(SCHEMA.fields + [T.StructField("co", T.BooleanType())]),
    )
    t.merge_upsert(batch, 1, create_only_col="co")
    r = rows(t)
    assert r["a"] == ("orig", 1)  # existing row wins for create-only
    assert r["b"] == ("B", 1)


def test_schema_evolution_additive(spark, warehouse):
    lake, t = _mk(spark, warehouse)
    t.merge_upsert(spark.createDataFrame([("a", "A", 1)], SCHEMA), 0)
    evolved = T.StructType(SCHEMA.fields + [T.StructField("extra", T.StringType())])
    t.merge_upsert(spark.createDataFrame([("b", "B", 1, "X")], evolved), 1)
    got = {r["key"]: r["extra"] for r in t.read().collect()}
    assert got == {"a": None, "b": "X"}  # old rows read null through evolved schema
    # destructive type change rejected
    bad = T.StructType([T.StructField("key", T.StringType()), T.StructField("v", T.StringType())])
    with pytest.raises(ValueError, match="incompatible"):
        t.merge_upsert(spark.createDataFrame([("c", "1")], bad), 2)


def test_delete_where_and_guard(spark, warehouse):
    lake, t = _mk(spark, warehouse)
    df = spark.createDataFrame([(f"k{i}", "N", i) for i in range(100)], SCHEMA)
    t.merge_upsert(df, 0)
    with pytest.raises(RuntimeError, match="staleness guard"):
        t.delete_where(F.col("v") < 50, max_delete_pct=0.05)
    m = t.delete_where(F.col("v") < 3, max_delete_pct=0.05)
    assert m["rows_deleted"] == 3
    assert t.read().count() == 97


def test_cow_only_touched_buckets(spark, warehouse):
    lake, t = _mk(spark, warehouse, n_buckets=16)
    df = spark.createDataFrame([(f"k{i}", "N", i) for i in range(200)], SCHEMA)
    t.merge_upsert(df, 0)
    before = t.current().files
    m = t.merge_upsert(spark.createDataFrame([("k0", "N2", 0)], SCHEMA), 1)
    assert m["buckets_touched"] == 1
    after = t.current().files
    unchanged = [b for b in before if before[b] == after.get(b)]
    assert len(unchanged) == len(before) - 1  # only one bucket rewritten


def test_cow_merge_exact_state_and_counts(spark, warehouse):
    """The CoW join merge against hand-computed state and lineage counts:
    50 seed rows, then a 40-row batch over k30..k69 deleting every key with
    i % 3 == 0. Seed keys outside the batch keep their epoch-0 row; batch
    keys that existed are updated (13) or deleted (30, 33, …, 48: 7); new
    keys are inserted (13) and deletes of absent keys are no-ops."""
    lake, t = _mk(spark, warehouse)
    t.merge_upsert(
        spark.createDataFrame([(f"k{i}", "A", i) for i in range(50)], SCHEMA), 0
    )
    batch = spark.createDataFrame(
        [(f"k{i}", "B", i * 10, i % 3 == 0) for i in range(30, 70)],
        T.StructType(SCHEMA.fields + [T.StructField("d", T.BooleanType())]),
    )
    m = t.merge_upsert(batch, 1, delete_col="d")
    got = {r["key"]: (r["name"], r["v"], r["publish_tag"]) for r in t.read().collect()}
    want = {f"k{i}": ("A", i, "epoch_0") for i in range(30)}
    want.update({f"k{i}": ("B", i * 10, "epoch_1") for i in range(30, 70) if i % 3})
    assert got == want
    counts = {"rows_seen": 40, "rows_inserted": 13, "rows_updated": 13,
              "rows_deleted": 7}
    assert {k: m[k] for k in counts} == counts
    assert {k: t.current().metrics[k] for k in counts} == counts


def test_mor_merge_semantics(spark, warehouse):
    """merge-on-read: append-only writes, resolve-on-read LWW, compaction
    preserves state, delete_where works on resolved data."""
    lake = SnapshotLake(spark, warehouse)
    t = lake.create_table("m", SCHEMA, ["key"], n_buckets=8, mode="mor")
    t.merge_upsert(spark.createDataFrame([("a", "A", 1), ("b", "B", 1)], SCHEMA), 0)
    t.merge_upsert(spark.createDataFrame([("b", "B2", 2), ("c", "C", 1)], SCHEMA), 1)
    assert rows(t) == {"a": ("A", 1), "b": ("B2", 2), "c": ("C", 1)}

    # delete marker
    batch = spark.createDataFrame(
        [("a", None, None, True), ("d", "D", 4, False)],
        T.StructType(SCHEMA.fields + [T.StructField("dl", T.BooleanType())]),
    )
    t.merge_upsert(batch, 2, delete_col="dl")
    assert rows(t) == {"b": ("B2", 2), "c": ("C", 1), "d": ("D", 4)}

    # appends only: base empty, deltas accumulate
    snap = t.current()
    assert snap.mode == "mor" and not snap.files and snap.delta_files

    # compaction folds deltas into base without changing state
    before = rows(t)
    m = t.compact()
    assert m["compacted_buckets"] > 0
    snap = t.current()
    assert snap.files and not snap.delta_files
    assert rows(t) == before

    # writes after compaction still resolve
    t.merge_upsert(spark.createDataFrame([("b", "B3", 3)], SCHEMA), 3)
    assert rows(t)["b"] == ("B3", 3)

    # create-only after compaction: existing row wins
    co = spark.createDataFrame(
        [("b", "NOPE", 9, True), ("e", "E", 5, True)],
        T.StructType(SCHEMA.fields + [T.StructField("co", T.BooleanType())]),
    )
    t.merge_upsert(co, 4, create_only_col="co")
    r = rows(t)
    assert r["b"] == ("B3", 3) and r["e"] == ("E", 5)

    # schema evolution additive on mor
    evolved = T.StructType(SCHEMA.fields + [T.StructField("extra", T.StringType())])
    t.merge_upsert(spark.createDataFrame([("f", "Fx", 6, "X")], evolved), 5)
    got = {x["key"]: x["extra"] for x in t.read().collect()}
    assert got["f"] == "X" and got["b"] is None

    # delete_where on resolved state
    m = t.delete_where(F.col("v") >= 5, max_delete_pct=0.9)
    assert m["rows_deleted"] == 2  # e(5), f(6)
    assert set(rows(t)) == {"b", "c", "d"}

    # exactly-once epoch replay on mor
    v = t.current().version
    m = t.merge_upsert(spark.createDataFrame([("zzz", "Z", 1)], SCHEMA), 5)
    assert "skipped_epoch" in m and t.current().version == v


def test_empty_merge_output_all_deleted(spark, warehouse):
    """ADVICE r01: a batch that deletes every row in the touched buckets
    (empty written plan) must not crash the Observation metrics path."""
    lake, t = _mk(spark, warehouse, n_buckets=4)
    t.merge_upsert(spark.createDataFrame([("a", "A", 1)], SCHEMA), 0)
    batch = spark.createDataFrame(
        [("a", None, None, True)],
        T.StructType(SCHEMA.fields + [T.StructField("d", T.BooleanType())]),
    )
    m = t.merge_upsert(batch, 1, delete_col="d")
    assert m["rows_deleted"] == 1 and m["rows_seen"] == 1
    assert t.read().count() == 0
    # replaying the next epoch over the emptied table still works
    m2 = t.merge_upsert(spark.createDataFrame([("b", "B", 2)], SCHEMA), 2)
    assert m2["rows_inserted"] == 1
    assert rows(t) == {"b": ("B", 2)}


def test_mor_delete_then_create_only_matches_cow(spark, warehouse):
    """ADVICE r01: a create-only row written AFTER a delete must re-create the
    key in mor mode exactly as in cow mode, before AND after compaction."""
    lake = SnapshotLake(spark, warehouse)
    got = {}
    for mode in ("cow", "mor"):
        t = lake.create_table(f"dc_{mode}", SCHEMA, ["key"], n_buckets=4, mode=mode)
        t.merge_upsert(spark.createDataFrame([("a", "v1", 1)], SCHEMA), 0)
        d = spark.createDataFrame(
            [("a", None, None, True)],
            T.StructType(SCHEMA.fields + [T.StructField("d", T.BooleanType())]),
        )
        t.merge_upsert(d, 1, delete_col="d")
        co = spark.createDataFrame(
            [("a", "v2", 2, True)],
            T.StructType(SCHEMA.fields + [T.StructField("co", T.BooleanType())]),
        )
        t.merge_upsert(co, 2, create_only_col="co")
        got[mode] = rows(t)
        t.compact()
        assert rows(t) == got[mode], f"{mode}: compaction changed state"
    assert got["cow"] == got["mor"] == {"a": ("v2", 2)}


def test_delete_wins_over_create_only_cow_and_mor(spark, warehouse):
    """ADVICE r01: a source row with both __del and __co set deletes the
    target row, in CoW and in MoR."""
    lake = SnapshotLake(spark, warehouse)
    both = T.StructType(
        SCHEMA.fields
        + [T.StructField("d", T.BooleanType()), T.StructField("co", T.BooleanType())]
    )
    for mode in ("cow", "mor"):
        t = lake.create_table(f"dco_{mode}", SCHEMA, ["key"], n_buckets=4, mode=mode)
        t.merge_upsert(spark.createDataFrame([("a", "v1", 1)], SCHEMA), 0)
        m = t.merge_upsert(
            spark.createDataFrame([("a", "v2", 2, True, True)], both),
            1, delete_col="d", create_only_col="co",
        )
        if mode == "cow":
            assert m["rows_deleted"] == 1
        else:
            assert m["rows_delete_markers"] == 1
        assert t.read().count() == 0, mode


def test_duplicate_key_batch_fails_loudly(spark, warehouse):
    """ADVICE r01: MERGE multi-match is an error, not silent corruption."""
    lake, t = _mk(spark, warehouse, n_buckets=4)
    dup = spark.createDataFrame([("a", "v1", 1), ("a", "v2", 2)], SCHEMA)
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_upsert(dup, 0, check_unique=True)


def test_concurrent_commit_cas(spark, warehouse):
    """ADVICE r04: the commit is a true compare-and-swap — two committers
    built on the same parent race to create the same v{N}.json and exactly
    one wins; the loser raises instead of silently clobbering."""
    import os

    lake, t = _mk(spark, warehouse, n_buckets=4)
    t.merge_upsert(spark.createDataFrame([("a", "A", 1)], SCHEMA), 0)
    # simulate committer B winning the race: the next version's manifest
    # appears between A's current() read and A's commit
    snap = t.current()
    stolen = os.path.join(t.meta_dir, f"v{snap.version + 1}.json")
    with open(stolen, "w") as f:
        f.write(snap.to_json())
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t.merge_upsert(spark.createDataFrame([("b", "B", 1)], SCHEMA), 1)


def test_pointer_rollforward_after_crash(spark, warehouse):
    """A crash between manifest creation and the CURRENT swap must not lose
    the commit: manifest creation IS the commit point and readers roll the
    stale pointer forward."""
    import os

    lake, t = _mk(spark, warehouse, n_buckets=4)
    t.merge_upsert(spark.createDataFrame([("a", "A", 1)], SCHEMA), 0)
    v = t.current().version
    t.merge_upsert(spark.createDataFrame([("b", "B", 1)], SCHEMA), 1)
    # wind the pointer back to simulate the un-landed swap
    t.io.swap_pointer(os.path.join(t.meta_dir, "CURRENT"), f"v{v}")
    assert t.current().version == v + 1
    assert rows(t) == {"a": ("A", 1), "b": ("B", 1)}
    # next commit builds on the rolled-forward version, not the stale pointer
    t.merge_upsert(spark.createDataFrame([("c", "C", 1)], SCHEMA), 2)
    assert t.current().version == v + 2


def test_reopen_adopts_on_disk_buckets(spark, warehouse):
    """ADVICE r04: get-or-open with a defaulted n_buckets adopts the
    authoritative on-disk layout (warning), while mode/key_cols mismatches
    stay hard errors."""
    lake, t = _mk(spark, warehouse, n_buckets=4)
    with pytest.warns(UserWarning, match="n_buckets"):
        t2 = lake.create_table("t", SCHEMA, ["key"], n_buckets=64)
    assert t2.current().n_buckets == 4
    with pytest.raises(ValueError, match="different structure"):
        lake.create_table("t", SCHEMA, ["key"], n_buckets=4, mode="mor")
    with pytest.raises(ValueError, match="different structure"):
        lake.create_table("t", SCHEMA, ["name"], n_buckets=4)


def test_expire_snapshots_reclaims_dead_files(spark, warehouse):
    """Iceberg expire_snapshots + remove_orphan_files analog: old manifests
    drop, data files only kept manifests reference are deleted (post-grace),
    fresh orphans survive, and the current state is untouched."""
    import os

    lake, t = _mk(spark, warehouse, n_buckets=4)
    for e in range(6):
        t.merge_upsert(
            spark.createDataFrame([("a", f"v{e}", e), (f"k{e}", "X", e)], SCHEMA), e)
    before = rows(t)
    n_manifests = lambda: len(
        [f for f in os.listdir(t.meta_dir) if f.endswith(".json")])
    n_files = lambda: sum(
        len(fs) for _, _, fs in os.walk(t.data_dir))
    assert n_manifests() == 7  # v0..v6
    files_before = n_files()

    # a fresh orphan (simulating an in-flight commit's data file)
    orphan = os.path.join(t.data_dir, "inflight.parquet")
    with open(orphan, "w") as f:
        f.write("x")

    m = t.expire_snapshots(keep_last=2, orphan_grace_ms=3_600_000)
    assert m["expired_manifests"] == 5 and m["kept_manifests"] == 2
    assert os.path.exists(orphan)  # younger than the grace window
    assert rows(t) == before      # current state untouched
    assert n_manifests() == 2

    # past the grace window the orphan goes too
    m2 = t.expire_snapshots(keep_last=2, orphan_grace_ms=0)
    assert not os.path.exists(orphan)
    assert rows(t) == before
    # every remaining file is referenced by one of the KEPT manifests
    from amundsendatabuilder_spark.plans.lake import Snapshot
    referenced = set()
    for v in (t.current().version - 1, t.current().version):
        s = Snapshot.from_json(
            t.io.read(os.path.join(t.meta_dir, f"v{v}.json")))
        referenced |= {os.path.abspath(p)
                       for fl in s.files.values() for p in fl}
    on_disk = {os.path.abspath(os.path.join(r, f))
               for r, _, fs in os.walk(t.data_dir) for f in fs}
    assert on_disk == referenced
    assert n_files() < files_before


MAP_SCHEMA = T.StructType(
    SCHEMA.fields
    + [T.StructField("attrs", T.MapType(T.StringType(), T.StringType()))]
)
OPS_SCHEMA = T.StructType(
    MAP_SCHEMA.fields
    + [T.StructField("d", T.BooleanType()), T.StructField("co", T.BooleanType())]
)


def test_mor_resolve_hand_computed_winners(spark, warehouse):
    """The one-pass MoR resolve against hand-computed winners for every
    delete / create-only interleaving, through every read path, across
    compaction. ``op`` is N (normal), C (create-only) or D (delete); each
    epoch's merge stamps ``__seq`` = epoch + 1."""
    lake = SnapshotLake(spark, warehouse)
    t = lake.create_table("w", MAP_SCHEMA, ["key"], n_buckets=4, mode="mor")

    def merge(epoch, ops):
        t.merge_upsert(spark.createDataFrame(
            [(k, name, epoch, {"by": name}, op == "D", op == "C")
             for k, op, name in ops], OPS_SCHEMA), epoch,
            delete_col="d", create_only_col="co")

    merge(0, [("co_only", "C", "c0"), ("two_co", "C", "first"),
              ("co_after_del", "N", "n0"), ("del_after_co", "C", "c0"),
              ("del_only", "D", None), ("nc_after_co", "C", "c0"),
              ("co_after_nc", "N", "n0")])
    merge(1, [("two_co", "C", "second"), ("co_after_del", "D", None),
              ("del_after_co", "D", None), ("nc_after_co", "N", "n1"),
              ("co_after_nc", "C", "c1")])
    v1 = t.current().version
    merge(2, [("co_after_del", "C", "c2")])

    def state(df):
        return {r["key"]: (r["name"], r["v"], r["attrs"]) for r in df.collect()}

    def want(names):
        return {k: (n, e, {"by": n}) for k, (n, e) in names.items()}

    at_v1 = want({"co_only": ("c0", 0), "two_co": ("first", 0),
                  "nc_after_co": ("n1", 1), "co_after_nc": ("n0", 0)})
    final = {**at_v1, **want({"co_after_del": ("c2", 2)})}
    all_keys = sorted(final) + ["del_after_co", "del_only", "absent"]

    def check(expected, point_reads):
        assert state(t.read()) == expected
        if point_reads:  # one bucket-pinned lookup per key
            for k in all_keys:
                assert state(t.read_where([("key", "=", k)])) == (
                    {k: expected[k]} if k in expected else {}), k
        else:
            assert state(t.read_where([("key", "in", all_keys)])) == expected
        probe = spark.createDataFrame([(k,) for k in all_keys], "key string")
        assert state(t.read_for_keys(probe)) == expected

    check(final, point_reads=True)
    assert state(t.read(version=v1)) == at_v1

    assert t.compact()["compacted_buckets"] > 0
    snap = t.current()
    assert snap.files and not snap.delta_files
    check(final, point_reads=False)
    # compaction kept each winner's merge order: (__seq, __co) per key
    base = t._read_files(t._all_files(snap), t._mor_schema(snap.schema()))
    assert {r["key"]: (r["__seq"], r["__mor_create_only"], r["__mor_deleted"])
            for r in base.collect()} == {
        "co_only": (1, True, False), "two_co": (1, True, False),
        "co_after_del": (3, True, False), "nc_after_co": (2, False, False),
        "co_after_nc": (1, False, False)}
    # so a later create-only write still loses to the compacted rows, and a
    # later normal write still beats a compacted create-only row
    merge(3, [("nc_after_co", "C", "late"), ("two_co", "C", "third"),
              ("co_only", "N", "n3")])
    assert state(t.read()) == {**final, **want({"co_only": ("n3", 3)})}


def test_driver_bucket_matches_spark_xxhash64(spark, warehouse):
    """The driver-side bucket hash equals ``pmod(xxhash64(keys), n)`` for
    every engine key schema — nulls, empty and non-ASCII strings, lengths
    across the 4/8/32-byte lanes, extreme longs — in one Spark collect; a
    type-mismatched literal raises; a full-key point lookup plans with no
    Spark job."""
    import random

    from amundsendatabuilder_spark.plans.lake import _driver_bucket
    from amundsendatabuilder_spark.streaming.pipeline import (
        DOC_KEYS, ENTITY_KEYS, NODE_KEYS, REL_KEYS)

    # key schemas of every engine table, plus an int key
    key_schemas = {
        "entity": [(c, T.StringType()) for c in ENTITY_KEYS],
        "node": [(c, T.StringType()) for c in NODE_KEYS],
        "rel": [(c, T.StringType()) for c in REL_KEYS],
        "doc": [(c, T.StringType()) for c in DOC_KEYS],
        "user_sessions": [("user_id", T.LongType()), ("session_seq", T.LongType())],
        "session_state": [("user_id", T.LongType())],
        "int": [("i", T.IntegerType())],
    }

    rng = random.Random(11)
    alphabet = "ab/_.Z09 éß中😀"
    lengths = [0, 1, 3, 4, 5, 7, 8, 9, 12, 15, 16, 17, 31, 32, 33, 40, 63, 64, 65, 70]

    def val(dt):
        if rng.random() < 0.1:
            return None
        if isinstance(dt, T.StringType):
            return "".join(rng.choice(alphabet) for _ in range(rng.choice(lengths)))
        bits = 63 if isinstance(dt, T.LongType) else 31
        return rng.choice([0, -1, 1, (1 << bits) - 1, -(1 << bits),
                           rng.randrange(-(1 << bits), 1 << bits)])

    cols = [(f"{s}__{c}", dt) for s, kc in key_schemas.items() for c, dt in kc]
    data = [tuple(val(dt) for _, dt in cols) for _ in range(400)]
    df = spark.createDataFrame(
        data, T.StructType([T.StructField(c, dt) for c, dt in cols]))
    ns = (1, 4, 64, 4096)
    exprs = [
        F.pmod(F.xxhash64(*[F.col(f"{s}__{c}") for c, _ in kc]), F.lit(n))
        .alias(f"{s}/{n}")
        for s, kc in key_schemas.items() for n in ns
    ]
    got = df.select(*[c for c, _ in cols], *exprs).collect()
    mismatches = [
        (s, n, [r[f"{s}__{c}"] for c, _ in kc])
        for r in got for s, kc in key_schemas.items() for n in ns
        if _driver_bucket([r[f"{s}__{c}"] for c, _ in kc],
                          [dt for _, dt in kc], n) != r[f"{s}/{n}"]
    ]
    assert not mismatches, mismatches[:5]

    # a literal of the wrong Python type never hashes into some bucket
    for v, dt in [(1, T.StringType()), ("1", T.LongType()),
                  (True, T.LongType()), (1 << 31, T.IntegerType()), (1.0, T.LongType())]:
        with pytest.raises(TypeError, match="does not match"):
            _driver_bucket([v], [dt], 64)
    # uncovered key types skip bucket pruning instead of guessing
    assert _driver_bucket([1.5], [T.DoubleType()], 64) is None
    assert _driver_bucket(["a"], [T.StringType("UTF8_LCASE")], 64) is None

    lake, t = _mk(spark, warehouse, n_buckets=4)
    t.merge_upsert(spark.createDataFrame(
        [(f"k{i}", "x", i) for i in range(8)], SCHEMA), 0)
    with pytest.raises(TypeError, match="does not match"):
        t.plan_scan([("key", "=", 3)])
    sc = spark.sparkContext
    sc.setJobGroup("plan_scan_jobs", "plan_scan starts no Spark job")
    try:
        plan = t.plan_scan([("key", "=", "k3")])
        planned = sc.statusTracker().getJobIdsForGroup("plan_scan_jobs")
        rows_k3 = t.read_where([("key", "=", "k3")]).collect()
        read_jobs = sc.statusTracker().getJobIdsForGroup("plan_scan_jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert planned == [] and read_jobs  # the group does see the read's jobs
    assert len(plan["files"]) == len(t._all_files(
        t.current(), [_driver_bucket(["k3"], [T.StringType()], 4)]))
    assert [(r["key"], r["v"]) for r in rows_k3] == [("k3", 3)]


def test_mor_sorted_runs_and_run_aware_readers(spark, warehouse):
    """A MoR merge writes ONE key-sorted run whatever buckets it touches;
    bucket-restricted readers skip runs by their ``__bucket`` bounds and
    drop a kept run's rows of other buckets; the change feed, compaction
    and delete_where fold runs exactly. Buckets are hand-computed for
    n_buckets=8."""
    from amundsendatabuilder_spark.plans.lake import _driver_bucket

    bucket = {"b": 3, "c": 2, "j": 5, "i": 1, "e": 7, "a": 4, "u": 0}
    assert {k: _driver_bucket([k], [T.StringType()], 8) for k in bucket} == bucket
    lake = SnapshotLake(spark, warehouse)
    t = lake.create_table("r", SCHEMA, ["key"], n_buckets=8, mode="mor")

    def merge(epoch, recs):
        t.merge_upsert(spark.createDataFrame(
            [(k, n, v, d) for k, n, v, d in recs],
            T.StructType(SCHEMA.fields + [T.StructField("dl", T.BooleanType())])),
            epoch, delete_col="dl")

    def state(df):
        return {r["key"]: (r["name"], r["v"]) for r in df.collect()}

    merge(0, [("b", "B", 1, False), ("c", "C", 1, False), ("j", "J", 1, False)])
    v1 = t.current()
    assert list(v1.delta_files) == ["1"] and len(v1.delta_files["1"]) == 1
    run1 = v1.delta_files["1"][0]
    assert v1.file_stats[run1]["__bucket"] == [2, 5]
    assert t.current().metrics["run_files"] == 1
    # runs prune by bucket range: buckets 0, 1, 6, 7 lie outside [2, 5]
    assert t._all_files(v1, [7]) == [] and t._all_files(v1, [0, 1, 6]) == []
    assert t._all_files(v1, [4]) == [run1]    # in range, though empty
    # a bucket-restricted resolve keeps only that bucket's keys
    assert state(t._read_snapshot(v1, [3])) == {"b": ("B", 1)}
    assert state(t._read_snapshot(v1, [4])) == {}

    # update c, delete j, insert i and e: one more run, bounds [1, 7]
    merge(1, [("c", "C2", 2, False), ("j", None, None, True),
              ("i", "I", 2, False), ("e", "E", 2, False)])
    v2 = t.current()
    assert sorted(v2.delta_files) == ["1", "2"]
    assert v2.file_stats[v2.delta_files["2"][0]]["__bucket"] == [1, 7]
    assert t._all_files(v2, [0]) == []
    feed = {r["key"]: (r["_change_type"], r["name"])
            for r in t.changes(v1.version, v2.version).collect()}
    # b (bucket 3, inside the new run's range, untouched) shows nothing
    assert feed == {"c": ("update", "C2"), "j": ("delete", "J"),
                    "i": ("insert", "I"), "e": ("insert", "E")}
    want = {"b": ("B", 1), "c": ("C2", 2), "i": ("I", 2), "e": ("E", 2)}
    assert state(t.read()) == want
    # an empty batch adds no run
    merge(2, [])
    assert sorted(t.current().delta_files) == ["1", "2"]

    m = t.compact()
    snap = t.current()
    assert snap.delta_files == {} and state(t.read()) == want
    assert m["compacted_buckets"] == len({1, 2, 3, 5, 7})
    assert sorted(snap.files) == ["1", "2", "3", "7"]   # j's bucket folded empty
    assert t.changes(v2.version).count() == 0

    merge(3, [("a", "A", 3, False), ("u", "U", 3, False), ("b", "B3", 3, False)])
    m = t.delete_where(F.col("v") == 3, max_delete_pct=0.9)
    assert m["rows_deleted"] == 3
    snap = t.current()
    assert snap.delta_files == {}
    assert state(t.read()) == {"c": ("C2", 2), "i": ("I", 2), "e": ("E", 2)}


def test_mor_bucket_keyed_delta_manifest_still_reads(spark, warehouse):
    """A manifest whose ``delta_files`` is keyed by bucket (per-bucket delta
    files with no stored ``__bucket``) reads, feeds changes and compacts to
    the same state: its files are runs without bounds, never pruned."""
    from amundsendatabuilder_spark.plans.lake import _bucket_expr

    lake = SnapshotLake(spark, warehouse)
    t = lake.create_table("old", SCHEMA, ["key"], n_buckets=4, mode="mor")
    v0 = t.current()
    svc = "__seq long, __mor_deleted boolean, __mor_create_only boolean"
    deltas = t._write_buckets(spark.createDataFrame(
        [("a", "A", 1, "epoch_0", 1, 1, False, False),
         ("b", "B", 1, "epoch_0", 1, 1, False, False),
         ("c", "C", 1, "epoch_0", 1, 1, False, False),
         ("b", "B2", 2, "epoch_1", 2, 2, False, False),
         ("c", None, None, "epoch_1", 2, 2, True, False)],
        "key string, name string, v long, publish_tag string, "
        f"updated_ms long, {svc}",
    ).withColumn("__bucket", _bucket_expr(["key"], 4)), v0, "d0_")
    assert set(deltas) == {"0", "2", "3"}       # a: 0, b: 3, c: 2
    t._commit(t._next(v0, delta_files=deltas, seq=2, epochs={"default": 1}))
    snap = t.current()
    assert all("__bucket" not in snap.file_stats[f] for f in t._runs(snap))
    assert t._all_files(snap, [1]) == t._runs(snap)
    want = {"a": ("A", 1), "b": ("B2", 2)}
    assert rows(t) == want
    assert [r["key"] for r in t.read_where([("key", "=", "b")]).collect()] == ["b"]
    assert {r["key"]: r["_change_type"] for r in t.changes(0).collect()} == {
        "a": "insert", "b": "insert"}
    assert t.compact()["compacted_buckets"] == 3
    assert t.current().delta_files == {} and rows(t) == want
    t.merge_upsert(spark.createDataFrame([("a", "A3", 3)], SCHEMA), 2)
    assert rows(t) == {"a": ("A3", 3), "b": ("B2", 2)}


class _Crash(Exception):
    pass


class FaultyManifestIO(ManifestIO):
    """Manifest storage that raises on the k-th call of one primitive
    (``create_exclusive``: the data is written, no manifest yet;
    ``swap_pointer``: the manifest is created, CURRENT not yet swapped)."""

    def __init__(self, op: str, k: int = 1):
        self.op, self.k, self.calls = op, k, 0

    def _tick(self, op: str) -> None:
        if op == self.op:
            self.calls += 1
            if self.calls == self.k:
                raise _Crash(f"{op} #{self.k}")

    def create_exclusive(self, path: str, content: str) -> bool:
        self._tick("create_exclusive")
        return super().create_exclusive(path, content)

    def swap_pointer(self, pointer_path: str, content: str) -> None:
        self._tick("swap_pointer")
        super().swap_pointer(pointer_path, content)


def test_mor_crash_at_run_and_fold_commit_boundaries(spark, warehouse):
    """Crash a run append, compaction and a MoR delete_where at their
    commit boundaries; a fresh table on plain manifest storage re-runs the
    operation (a merge skips through the ledger) and reaches the state,
    epochs and run count of an uninterrupted run."""
    import os

    def merge(epoch, recs):
        return lambda t: t.merge_upsert(spark.createDataFrame(recs, SCHEMA), epoch)

    ops = [
        merge(0, [("a", "A", 1), ("b", "B", 1), ("c", "C", 1)]),
        merge(1, [("b", "B2", 2), ("d", "D", 2)]),
        lambda t: t.compact(),
        merge(2, [("a", "A3", 3), ("e", "E", 3)]),
        lambda t: t.delete_where(F.col("v") == 3, max_delete_pct=0.9),
    ]
    # op index -> the crashes it suffers before a clean re-run: compaction
    # first dies after its fold wrote data, then between create and swap
    faults = {1: ["swap_pointer"], 2: ["create_exclusive", "swap_pointer"],
              4: ["swap_pointer"]}

    def observe(t):
        snap = t.current()
        return rows(t), snap.epochs, len(snap.delta_files)

    def table(name):
        return SnapshotLake(spark, os.path.join(warehouse, name)).create_table(
            "t", SCHEMA, ["key"], n_buckets=4, mode="mor")

    ref, t = table("ref"), table("crash")
    for i, op in enumerate(ops):
        op(ref)
        for fault in faults.get(i, []):
            with pytest.raises(_Crash):
                op(SnapshotTable(spark, t.root, FaultyManifestIO(fault)))
        t = SnapshotTable(spark, t.root, ManifestIO())
        out = op(t)
        if i == 1:
            assert "skipped_epoch" in out
        if i in faults:
            assert observe(t) == observe(ref), (i, faults[i])
    assert observe(t) == ({"b": ("B2", 2), "c": ("C", 1), "d": ("D", 2)},
                          {"default": 2}, 0)
