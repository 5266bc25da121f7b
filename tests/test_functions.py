"""Operator-library tests: dedup family agreement, similarity recall,
transformers, staleness guard."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again today"
    for i in range(40):
        rows.append((i, base + f" variant {i}"))                  # near-dups of base
    rows.append((100, base + " variant 7"))                        # exact dup of 7
    rows.append((101, "completely different content about spark shuffles and joins"))
    rows.append((102, "Completely  DIFFERENT content about spark shuffles and joins!"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    from amundsendatabuilder_spark.functions.dedup import exact_dedup, exact_duplicates

    groups = exact_duplicates(docs).collect()
    sizes = {r["keep_id"]: r["dup_count"] for r in groups}
    assert sizes[7] == 2          # 7 and 100 identical
    assert sizes[101] == 2        # 101/102 identical after normalization
    kept = exact_dedup(docs)
    assert kept.count() == docs.count() - 2
    assert kept.where("doc_id in (100, 102)").count() == 0


def test_minhash_estimates_jaccard(spark, docs):
    from amundsendatabuilder_spark.functions.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5, max_posting=10**9).collect()
    }
    cand = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_candidates(docs, k=64, bands=16).collect()
    }
    # high-jaccard pairs must be found by LSH, estimates within 0.25
    found = sum(1 for p in exact if p in cand)
    assert found / len(exact) > 0.9
    for p, est in cand.items():
        if p in exact:
            assert abs(est - exact[p]) < 0.25


def test_simhash_near_pairs(spark, docs):
    from amundsendatabuilder_spark.functions.dedup import simhash_near_pairs

    pairs = simhash_near_pairs(docs, max_hamming=10).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (7, 100) in ids  # identical docs → hamming 0
    for r in pairs:
        if (r["id_a"], r["id_b"]) == (7, 100):
            assert r["hamming"] == 0


def test_cosine_topk_variants_agree(spark):
    from amundsendatabuilder_spark.functions.similarity import (
        cosine_topk_arrow,
        cosine_topk_bruteforce,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    a = cosine_topk_bruteforce(emb, q, k=3).collect()
    qp = q.toPandas()
    b = cosine_topk_arrow(emb, qp, k=3).collect()
    am = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in a}
    bm = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in b}
    assert am == bm


def test_lsh_bucket_topk_recall(spark):
    from amundsendatabuilder_spark.functions.similarity import (
        cosine_topk_bruteforce,
        lsh_bucket_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 20)
    exact = cosine_topk_bruteforce(emb, q, k=1).collect()
    approx = lsh_bucket_topk(emb, q, k=1, n_bands=8, planes_per_band=3, dim=64).collect()
    exact_nn = {r["query_id"]: r["neighbor_id"] for r in exact}
    approx_nn = {r["query_id"]: r["neighbor_id"] for r in approx}
    hits = sum(1 for k, v in approx_nn.items() if exact_nn.get(k) == v)
    assert hits / len(exact_nn) >= 0.6  # recall@1, 8 bands × 3 planes


def test_transformers(spark):
    from amundsendatabuilder_spark.operators import transformers as tr

    df = spark.createDataFrame(
        [("a.b", "2017-09-18T00:00:00.000Z", "x,y"), ("c.d", "not-a-date", "z")],
        "name string, ts string, tags string",
    )
    out = tr.chain(
        tr.literal_replace(["name"], ".", "_"),
        tr.timestamp_to_epoch("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
    )(df)
    rows = {r["name"]: r["ts"] for r in out.collect()}
    assert rows["a_b"] == 1505692800
    assert rows["c_d"] == 0  # parse failure → 0 (reference behavior)

    t = tr.template_substitute("key", "{db}://{cluster}", ["db", "cluster"])(
        spark.createDataFrame([("hive", "gold")], "db string, cluster string")
    )
    assert t.first()["key"] == "hive://gold"

    tagged = tr.add_tags("tag_list", [" NEW "])(
        spark.createDataFrame([(["old"],)], "tag_list array<string>")
    )
    assert tagged.first()["tag_list"] == ["old", "new"]


def test_staleness_guard(spark, warehouse):
    from amundsendatabuilder_spark.operators.staleness import (
        remove_stale_nodes,
    )
    from amundsendatabuilder_spark.plans.lake import SnapshotLake

    lake = SnapshotLake(spark, warehouse)
    schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("label", T.StringType()),
    ])
    t = lake.create_table("nodes", schema, ["key"], n_buckets=4)
    old = spark.createDataFrame([(f"k{i}", "Table") for i in range(10)], schema)
    t.merge_upsert(old, 0, publish_tag="old_tag")
    new = spark.createDataFrame([(f"k{i}", "Table") for i in range(8)], schema)
    t.merge_upsert(new, 1, publish_tag="current")

    # 2 of 10 Table nodes stale = 20% ≥ default 5% → guard trips
    with pytest.raises(RuntimeError, match="staleness guard"):
        remove_stale_nodes(t, current_tag="current")
    # explicit per-label override admits the delete
    m = remove_stale_nodes(t, current_tag="current", per_label_pct={"Table": 0.5})
    assert m["rows_deleted"] == 2
    assert t.read().count() == 8
    # expiry shorter than the 24h minimum is rejected
    with pytest.raises(ValueError, match="minimum"):
        remove_stale_nodes(t, ms_to_expire=1000)


def test_multimodal_plumbing(spark):
    from amundsendatabuilder_spark.operators.multimodal import (
        extract_image_features,
        frame_sample_plan,
        media_dedup_by_content,
        synthetic_media_df,
    )

    media = synthetic_media_df(spark, n=30)
    assert media.count() == 30
    feats = extract_image_features(media).collect()
    assert len(feats) == 10  # ids % 3 == 0
    for r in feats:
        assert 64 <= r["width"] < 256 and r["n_channels"] == 3
        assert len(r["embedding"]) == 16
        assert len(r["payload_sha256"]) == 64
    plan = frame_sample_plan(media, every_n_sec=1)
    assert plan.count() > 0
    dd = media_dedup_by_content(media)
    assert dd.count() == 30  # all payloads distinct by construction


def test_simhash_blocking_complete_vs_bruteforce(spark, docs):
    """VERDICT r01: pigeonhole blocking (max_hamming+1 segments) must equal
    brute-force all-pairs at the same threshold — for thresholds well above
    the old 4-quarter scheme's hamming≤3 completeness bound."""
    from amundsendatabuilder_spark.functions.dedup import (
        hamming_distance,
        simhash,
        simhash_near_pairs,
    )

    for h in (4, 8, 10):
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_near_pairs(docs, max_hamming=h).collect()
        }
        s = simhash(docs)
        a = s.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("h_a"))
        b = s.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("h_b"))
        brute = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in a.crossJoin(b)
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", hamming_distance(F.col("h_a"), F.col("h_b")).alias("hamming"))
            .where(F.col("hamming") <= h)
            .collect()
        }
        assert got == brute, f"max_hamming={h}: blocking missed pairs"


def test_md5_hasher_variants_consistent(spark, docs):
    """The md5 (oracle-reproducible) hasher produces the same candidate
    structure as xxhash64 for exact duplicates, and the same recall shape."""
    from amundsendatabuilder_spark.functions.dedup import (
        minhash_lsh_candidates,
        simhash_near_pairs,
    )

    mh = {(r["id_a"], r["id_b"]): r["est_jaccard"]
          for r in minhash_lsh_candidates(docs, k=32, bands=8, hasher="md5").collect()}
    assert mh[(7, 100)] == 1.0  # identical docs: full signature match
    sh = {(r["id_a"], r["id_b"]): r["hamming"]
          for r in simhash_near_pairs(docs, max_hamming=4, hasher="md5").collect()}
    assert sh[(7, 100)] == 0


def test_simhash_candidate_budget_guard(spark, docs):
    """A too-coarse blocking setup (loose max_hamming over a hot corpus) must
    fail loudly with the candidate-budget guard, not run a quadratic join."""
    import pytest

    from amundsendatabuilder_spark.functions.dedup import simhash_near_pairs

    with pytest.raises(RuntimeError, match="simhash blocking guard"):
        simhash_near_pairs(docs, max_hamming=8, max_candidate_pairs=3).count()
    # same setup with the budget disabled still runs
    assert simhash_near_pairs(docs, max_hamming=8,
                              max_candidate_pairs=None).count() >= 0


def test_embedding_neardup_exact_vs_bruteforce(spark):
    """Label-blocked quantized near-dup == float brute force within blocks
    (the quantized integer test must agree with true cosine away from the
    threshold; construct vectors with wide margin), and pairs never cross
    blocks."""
    import math

    from amundsendatabuilder_spark.functions.similarity import (
        embedding_neardup_pairs,
    )

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    base = [1.0] + [0.0] * 7
    near = unit([0.95, 0.1, 0.1, 0.1, 0.0, 0.0, 0.0, 0.0])   # cos ~0.97
    far = unit([0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 0.0, 0.0])     # cos 0
    rows = [
        (1, 0, base), (2, 0, near), (3, 0, far),
        (4, 1, base),  # same vector as id 1 but another block: no pair
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    got = {(r["id_a"], r["id_b"])
           for r in embedding_neardup_pairs(df, tau_num=8, tau_den=10).collect()}
    assert got == {(1, 2)}  # near pair found; far and cross-block excluded

    # threshold is exact integer arithmetic: cos==tau counts as >= (ties in)
    tie = spark.createDataFrame(
        [(1, 0, [3.0, 4.0, 0.0]), (2, 0, [3.0, -4.0, 0.0])],
        "vec_id long, label int, embedding array<float>")
    # cos = (9-16)/25 < 0 -> dot<0 excluded even though |cos| large
    assert embedding_neardup_pairs(tie, tau_num=1, tau_den=100).count() == 0


def test_sessionize_events_gap_semantics(spark):
    """Gap strictly-greater splits; exactly-gap stays; per-user isolation;
    decimal sums exact; single shuffle on user_id."""
    from datetime import datetime

    from amundsendatabuilder_spark.functions.sessionize import (
        sessionize_events,
    )

    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def at(mins):
        return datetime(2024, 1, 1, mins // 60, mins % 60, 0)

    rows = [
        (1, t0, 10, 1.10),            # u10 s1
        (2, at(30), 10, 2.20),        # exactly 30 min gap -> SAME session
        (3, at(61), 10, 3.30),        # 31 min gap -> new session
        (4, t0, 20, 5.00),            # other user: own numbering
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, value double")
    got = {(r["user_id"], r["session_seq"]): (r["n_events"], str(r["sum_value"]))
           for r in sessionize_events(df, gap_minutes=30).collect()}
    assert got == {
        (10, 1): (2, "3.30"),   # 1.10 + 2.20 exact decimal
        (10, 2): (1, "3.30"),
        (20, 1): (1, "5.00"),
    }
    # one exchange: windows + agg share the user_id partitioning
    plan = sessionize_events(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # data exchange + AQE final read


def test_read_csv_rfc4180_and_generic_rows(spark, tmp_path):
    """CsvExtractor parity (csv_extractor.py:40-44): quoted fields spanning
    lines and doubled embedded quotes parse like csv.DictReader; plus the
    GenericExtractor literal-rows path."""
    from amundsendatabuilder_spark.sources.csv_sources import generic_rows, read_csv

    p = tmp_path / "t.csv"
    p.write_text(
        'name,description\n'
        'orders,"multi\nline ""quoted"" desc"\n'
        'users,plain\n'
    )
    rows = {r["name"]: r["description"] for r in read_csv(spark, str(p)).collect()}
    assert rows["orders"] == 'multi\nline "quoted" desc'
    assert rows["users"] == "plain"

    g = generic_rows(spark, [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}], "a int, b string")
    assert sorted((r["a"], r["b"]) for r in g.collect()) == [(1, "x"), (2, "y")]


def test_ivf_topk_recall_vs_bruteforce(spark):
    """IVF ANN (similarity.ivf_topk) recall@5 vs the exact baseline on the
    embeddings table; exact when every cell is probed."""
    from amundsendatabuilder_spark.functions.similarity import (
        cosine_topk_bruteforce,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 8)

    exact = cosine_topk_bruteforce(emb, queries, k=5)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    approx = ivf_topk(emb, queries, k=5, n_centroids=8, iters=2, nprobe=3)
    pairs = [(r["query_id"], r["neighbor_id"]) for r in approx.collect()]
    # one cell per corpus row, distinct probe cells per query: no pair twice
    assert len(pairs) == len(set(pairs))
    got = set(pairs)
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, f"recall {recall} too low for nprobe=3/8 cells"

    # probing every cell makes IVF exact (same candidates as brute force)
    full = ivf_topk(emb, queries, k=5, n_centroids=8, iters=2, nprobe=8)
    pairs_full = [(r["query_id"], r["neighbor_id"]) for r in full.collect()]
    assert len(pairs_full) == len(set(pairs_full))
    got_full = set(pairs_full)
    assert got_full == truth


def test_assign_clusters_deterministic_and_probe_shape(spark):
    from amundsendatabuilder_spark.functions.similarity import assign_clusters

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    cents = [[1.0] + [0.0] * 63, [0.0, 1.0] + [0.0] * 62, [0.0] * 63 + [1.0]]
    one = assign_clusters(emb, cents)
    a = {r["vec_id"]: r["cluster"] for r in one.collect()}
    b = {r["vec_id"]: r["cluster"] for r in one.collect()}
    assert a == b and set(a.values()) <= {0, 1, 2}
    three = assign_clusters(emb, cents, nprobe=3)
    per = three.groupBy("vec_id").count().collect()
    assert all(r["count"] == 3 for r in per)
