"""File-level column statistics and predicate scan planning.

Manifests record per-file [lower, upper] bounds harvested from parquet
footers at commit (O(new files) driver metadata work); plan_scan/read_where
use them to skip files a conjunctive predicate cannot match — Iceberg's
metadata file filtering. The MoR safety rule (only key columns prune) is
exercised by the exact stale-resurrection scenario it exists to prevent.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amundsendatabuilder_spark.plans.lake import SnapshotLake, SnapshotTable

SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def _mk(spark, warehouse, mode):
    lake = SnapshotLake(spark, warehouse)
    return lake.create_table(f"fs_{mode}", SCHEMA, ["key"], n_buckets=4, mode=mode)


def test_stats_recorded_and_carried_forward(spark, warehouse):
    t = _mk(spark, warehouse, "cow")
    df = spark.range(100).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        F.concat(F.lit("g"), F.col("id") % 3).alias("grp"),
        F.col("id").alias("v"),
    )
    t.merge_upsert(df, 0)
    s1 = t.current()
    assert s1.file_stats, "stats recorded at commit"
    some = next(iter(s1.file_stats.values()))
    assert "v" in some and some["v"][0] <= some["v"][1]
    # second commit: untouched files keep their (identity-equal) stats entry
    t.merge_upsert(spark.createDataFrame([("k1", "g1", 999)], SCHEMA), 1)
    s2 = t.current()
    carried = set(s1.file_stats) & set(s2.file_stats)
    assert carried
    for f in carried:
        assert s2.file_stats[f] == s1.file_stats[f]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_read_where_exact_answers(spark, warehouse, mode):
    t = _mk(spark, warehouse, mode)
    df = spark.range(400).select(
        F.concat(F.lit("k"), F.format_string("%04d", F.col("id"))).alias("key"),
        F.concat(F.lit("g"), F.col("id") % 3).alias("grp"),
        F.col("id").alias("v"),
    )
    t.merge_upsert(df, 0)
    preds = [("key", "between", ("k0100", "k0105"))]
    got = sorted(r["key"] for r in t.read_where(preds).collect())
    assert got == [f"k{i:04d}" for i in range(100, 106)]
    # non-key predicate: exact answer in both modes
    got2 = {r["key"] for r in t.read_where([("v", ">=", 398)]).collect()}
    assert got2 == {"k0398", "k0399"}
    # point lookup: equality on every key column pins ONE bucket. A MoR
    # merge writes one run spanning every bucket, so the pin prunes the
    # bucketed base that compaction folds the run into
    if mode == "mor":
        assert [r["v"] for r in t.read_where([("key", "=", "k0123")]).collect()] == [123]
        t.compact()
    plan = t.plan_scan([("key", "=", "k0123")])
    assert plan["files_kept"] < plan["files_total"]
    assert [r["v"] for r in t.read_where([("key", "=", "k0123")]).collect()] == [123]
    # unsupported op fails loudly
    with pytest.raises(ValueError, match="unsupported predicate op"):
        t.plan_scan([("v", "!=", 1)])


def test_epoch_clustered_key_ranges_prune_mor_deltas(spark, warehouse):
    """The realistic stats win: entity keys arrive in waves, so each epoch's
    delta files carry a tight key range. A key-range predicate then skips
    every other epoch's delta files — safe in MoR because key-column bounds
    keep ALL files that could hold a matching key's any version."""
    t = _mk(spark, warehouse, "mor")

    def wave(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("k"), F.format_string("%04d", F.col("id"))).alias("key"),
            F.lit("g").alias("grp"),
            F.col("id").alias("v"),
        )

    t.merge_upsert(wave(0, 200), 0)
    t.merge_upsert(wave(200, 400), 1)
    plan = t.plan_scan([("key", "between", ("k0250", "k0260"))])
    assert plan["files_kept"] < plan["files_total"], (
        "epoch-0 delta files (keys < k0200) must be skipped by manifest bounds")
    got = sorted(r["key"] for r in
                 t.read_where([("key", "between", ("k0250", "k0260"))]).collect())
    assert got == [f"k{i:04d}" for i in range(250, 261)]


def test_mor_nonkey_predicate_never_prunes_stale_winner(spark, warehouse):
    """The adversarial case for MoR pruning: key k has v=7 in delta file A,
    then v=3 in delta file B. Pruning on (v > 5) would drop file B and the
    LWW resolve would resurrect the stale v=7 row. The key-columns-only rule
    keeps both files; resolve yields v=3; the filter then removes it."""
    t = _mk(spark, warehouse, "mor")
    t.merge_upsert(spark.createDataFrame([("k", "g", 7)], SCHEMA), 0)
    t.merge_upsert(spark.createDataFrame([("k", "g", 3)], SCHEMA), 1)
    plan = t.plan_scan([("v", ">", 5)])
    assert plan["files_kept"] == plan["files_total"], (
        "non-key predicates must not prune MoR files")
    assert t.read_where([("v", ">", 5)]).count() == 0
    assert [r["v"] for r in t.read_where([("key", "=", "k")]).collect()] == [3]


def test_cow_nonkey_predicate_prunes(spark, warehouse):
    t = _mk(spark, warehouse, "cow")
    df = spark.range(400).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        F.lit("g").alias("grp"),
        (F.col("id") % 4).alias("v"),  # correlates with bucket? no — spread
    )
    t.merge_upsert(df, 0)
    # v spans 0..3 in every file: impossible value prunes everything
    plan = t.plan_scan([("v", ">", 100)])
    assert plan["files_kept"] == 0
    assert t.read_where([("v", ">", 100)]).count() == 0


def test_string_truncation_bounds():
    lo, hi = SnapshotTable._trunc_bounds("a" * 40, "b" * 40)
    assert len(lo) == 16 and len(hi) == 16
    assert lo <= "a" * 40 and hi >= "b" * 40
    # bump carries: last kept char is incremented
    assert hi == "b" * 15 + "c"
    # unbumpable run of U+10FFFF → no stats rather than wrong stats
    assert SnapshotTable._trunc_bounds("a", chr(0x10FFFF) * 20) is None
    # short strings pass through untouched
    assert SnapshotTable._trunc_bounds("aa", "zz") == ["aa", "zz"]


def test_may_match_matrix():
    m = SnapshotTable._may_match
    b = [10, 20]
    assert m(b, "=", 15) and not m(b, "=", 25) and not m(b, "=", 5)
    assert m(b, "<", 11) and not m(b, "<", 10)
    assert m(b, "<=", 10) and not m(b, "<=", 9)
    assert m(b, ">", 19) and not m(b, ">", 20)
    assert m(b, ">=", 20) and not m(b, ">=", 21)
    assert m(b, "in", [1, 2, 15]) and not m(b, "in", [1, 2])
    assert m(b, "between", (20, 30)) and not m(b, "between", (21, 30))
    assert m(None, "=", 999)  # unknown bounds never prune


def test_compaction_clusters_buckets(spark, warehouse):
    """compact() key-sorts each rewritten bucket and caps file size, so a
    big bucket splits into files with DISJOINT key ranges — the manifest
    bounds then prune point lookups down to ~1 base file per key."""
    lake = SnapshotLake(spark, warehouse)
    t = lake.create_table("fs_cluster", SCHEMA, ["key"], n_buckets=1, mode="mor")
    df = spark.range(1000).select(
        F.concat(F.lit("k"), F.format_string("%04d", F.col("id"))).alias("key"),
        F.lit("g").alias("grp"),
        F.col("id").alias("v"),
    )
    t.merge_upsert(df, 0)
    m = t.compact(target_file_rows=200)
    assert m["compacted_buckets"] == 1 and m["output_files"] >= 5
    snap = t.current()
    stats = snap.file_stats
    bounds = sorted(stats[f]["key"] for f in snap.files["0"])
    assert len(bounds) == m["output_files"]
    for (_, hi), (lo2, _) in zip(bounds, bounds[1:]):
        assert hi <= lo2, "clustered files must cover disjoint key ranges"
    pruned = t._key_box_prune(snap, t._all_files(snap), {"key": ("k0500", "k0500")})
    assert len(pruned) == 1
    keys = spark.createDataFrame([("k0500",)], ["key"])
    assert [(r["key"], r["v"]) for r in t.read_for_keys(keys).collect()] == [
        ("k0500", 500)]
    # full read still exact after the clustered rewrite
    assert t.read().count() == 1000


def test_read_for_keys_box_prunes_other_waves(spark, warehouse):
    """read_for_keys' key bounding box skips delta files from other key
    waves (file-level, via manifest bounds) while returning exact rows —
    including when the lookup batch carries a null key (box pruning
    disables itself; null keys never match a left-semi join anyway)."""
    t = _mk(spark, warehouse, "mor")

    def wave(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("k"), F.format_string("%04d", F.col("id"))).alias("key"),
            F.lit("g").alias("grp"),
            F.col("id").alias("v"),
        )

    t.merge_upsert(wave(0, 200), 0)
    t.merge_upsert(wave(200, 400), 1)
    snap = t.current()
    all_files = t._all_files(snap)
    pruned = t._key_box_prune(snap, all_files, {"key": ("k0300", "k0310")})
    assert 0 < len(pruned) < len(all_files), (
        "wave-0 delta files must drop out of a wave-1 key box")
    keys = spark.createDataFrame([("k0300",), ("k0305",)], ["key"])
    got = {r["key"]: r["v"] for r in t.read_for_keys(keys).collect()}
    assert got == {"k0300": 300, "k0305": 305}
    # a null key in the batch disables box pruning but stays correct
    keys2 = spark.createDataFrame(
        [("k0010",), (None,)], T.StructType([T.StructField("key", T.StringType())]))
    got2 = {r["key"]: r["v"] for r in t.read_for_keys(keys2).collect()}
    assert got2 == {"k0010": 10}
