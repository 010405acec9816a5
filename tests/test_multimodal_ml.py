"""Multimodal plumbing + ML pipeline tests."""

import pytest
from pyspark.sql import functions as F

from azure_medicine_data_engineering_spark.operators import multimodal


def test_decode_media_arrow_path(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "another document")], "doc_id long, text string"
    )
    media = multimodal.attach_fake_payload(docs, "doc_id", "text")
    out = {r.media_id: r for r in multimodal.decode_media(media).collect()}
    assert set(out) == {1, 2}
    r = out[1]
    assert r.byte_len == 16 and 16 <= r.width < 80 and 16 <= r.height < 80
    assert 0.0 <= r.mean_intensity <= 1.0
    # deterministic: same input → same metadata
    again = {r.media_id: r for r in multimodal.decode_media(media).collect()}
    assert again[1] == r


def test_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.real_decode(b"\x00" * 16)


def test_hash_split_deterministic_and_disjoint(spark):
    from azure_medicine_data_engineering_spark.ml.pipeline import hash_split

    df = spark.range(1000).withColumnRenamed("id", "k")
    tr1, te1 = hash_split(df, "k", 0.7)
    tr2, te2 = hash_split(df.repartition(13), "k", 0.7)
    assert tr1.count() == tr2.count() and te1.count() == te2.count()
    assert tr1.count() + te1.count() == 1000
    assert tr1.join(te1, "k").count() == 0


def test_random_search_configs_budget_and_determinism():
    from azure_medicine_data_engineering_spark.ml.pipeline import sample_tree_configs

    a = sample_tree_configs(50, seed=42)
    b = sample_tree_configs(50, seed=42)
    assert len(a) >= 50  # reference hyperdrive budget (README.md:697-703)
    assert a == b  # deterministic under seed
    assert sample_tree_configs(50, seed=7) != a  # seed actually drives draws
    for c in a:
        assert 2 <= c["maxDepth"] <= 12
        assert c["minInstancesPerNode"] in {1, 2, 3, 5, 7, 10, 15, 20}
        assert 1e-6 <= c["minInfoGain"] <= 1e-2


def test_random_search_fits_and_selects(spark):
    from azure_medicine_data_engineering_spark.ml.pipeline import random_search_tree

    df = spark.range(300).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") % 5).cast("double").alias("noise"),
        (F.col("id") > 150).cast("double").alias("label"),
    )
    model, configs = random_search_tree(df, ["x", "noise"], "label", n_configs=3)
    assert len(configs) == 3
    assert len(model.validationMetrics) == 3
    assert max(model.validationMetrics) > 0.9  # separable data


def test_decision_tree_pipeline(spark):
    from azure_medicine_data_engineering_spark.ml.pipeline import (
        evaluate,
        hash_split,
        train_decision_tree,
    )

    # separable synthetic data: label = x > 50
    df = spark.range(500).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("x"),
        (F.col("id") % 7).cast("double").alias("noise"),
        (F.col("id") > 250).cast("double").alias("label"),
    )
    train, test = hash_split(df, "k", 0.7)
    model = train_decision_tree(train, ["x", "noise"], "label", max_depth=3)
    result = evaluate(model, test, ["x", "noise"], "label")
    assert result.metrics["accuracy"] > 0.95
    assert result.metrics["auc"] > 0.95
    assert result.feature_importances["x"] > 0.9  # x dominates (M8)


def test_decision_tree_cache_ownership(spark):
    """The fit persists an uncached training frame only for its own
    duration; a frame the caller cached keeps its cache through fit and
    evaluate."""
    from pyspark import StorageLevel

    from azure_medicine_data_engineering_spark.ml.pipeline import (
        evaluate,
        hash_split,
        train_decision_tree,
    )

    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("x"),
        (F.col("id") > 150).cast("double").alias("label"),
    )
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    train, test = hash_split(df, "k", 0.7)
    model = train_decision_tree(train, ["x"], "label", max_depth=2)
    evaluate(model, test, ["x"], "label")
    assert cache_manager.isEmpty()

    train.persist(StorageLevel.MEMORY_ONLY)
    test.persist(StorageLevel.DISK_ONLY)
    try:
        model = train_decision_tree(train, ["x"], "label", max_depth=2)
        assert train.storageLevel == StorageLevel.MEMORY_ONLY
        evaluate(model, test, ["x"], "label")
        assert train.storageLevel == StorageLevel.MEMORY_ONLY
        assert test.storageLevel == StorageLevel.DISK_ONLY
    finally:
        train.unpersist()
        test.unpersist()
    assert cache_manager.isEmpty()


def test_quality_lr_planted_separable(spark):
    """Planted linearly separable corpus: positive docs speak only
    'good'-vocab tokens, negatives only 'bad'-vocab tokens — the hashed
    LR must reach AUC 1.0 on the held-out split and a perfect confusion
    matrix at the 0.5 threshold."""
    from azure_medicine_data_engineering_spark.ml.pipeline import (
        hash_split,
        hashed_token_features,
        train_quality_lr,
    )
    from pyspark.sql import functions as F

    rows = []
    for i in range(120):
        if i % 2 == 0:
            rows.append((i, "excellent prose flows clearly here " * 3, 1.0))
        else:
            rows.append((i, "spam spam junk junk noise noise " * 3, 0.0))
    df = spark.createDataFrame(rows, "doc_id long, text string, label double")
    feats, cols = hashed_token_features(df, "text", "doc_id", n_buckets=64)
    labeled = feats.join(df.select("doc_id", "label"), "doc_id")
    train, test = hash_split(labeled, "doc_id", 0.7)
    assert train.count() > 0 and test.count() > 0
    model = train_quality_lr(train, cols, "label")

    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    pred = model.transform(test)
    auc = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderROC"
    ).evaluate(pred)
    assert auc == 1.0
    cm = pred.agg(
        F.sum(((F.col("prediction") == 1.0) & (F.col("label") == 1.0)).cast("int")).alias("tp"),
        F.sum(((F.col("prediction") == 0.0) & (F.col("label") == 0.0)).cast("int")).alias("tn"),
        F.sum(((F.col("prediction") == 1.0) & (F.col("label") == 0.0)).cast("int")).alias("fp"),
        F.sum(((F.col("prediction") == 0.0) & (F.col("label") == 1.0)).cast("int")).alias("fn"),
    ).collect()[0]
    assert cm["fp"] == 0 and cm["fn"] == 0
    assert cm["tp"] + cm["tn"] == test.count()


def test_quality_lr_features_match_serving_buckets(spark):
    """The training features must live in the SAME hash buckets the
    serving path scores with: for a one-token doc, the single nonzero
    feature column index equals hashed_linear_scores' h(tok) % D."""
    from azure_medicine_data_engineering_spark.ml.pipeline import hashed_token_features
    from azure_medicine_data_engineering_spark.operators.dedup import _hash32
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "zebra")], "doc_id long, text string")
    feats, cols = hashed_token_features(df, "text", "doc_id", n_buckets=16)
    row = feats.collect()[0]
    nz = [c for c in cols if row[c] != 0.0]
    expected_b = (
        spark.range(1)
        .select((_hash32(F.lit("zebra")) % 16).alias("b"))
        .collect()[0]["b"]
    )
    assert nz == [f"f{expected_b}"]
    assert row[f"f{expected_b}"] == 1.0


def test_als_recommender_clusters(spark):
    """ALS (implicit) must rank in-cluster items above out-of-cluster for
    a planted two-block interaction matrix."""
    from azure_medicine_data_engineering_spark.ml.pipeline import (
        train_als_recommender,
    )

    rows = []
    # block A: users 0-9 interact with items 0-4; block B: 10-19 with 5-9
    for u in range(10):
        for i in range(5):
            rows.append((u, i, 3.0 + (u + i) % 3))
    for u in range(10, 20):
        for i in range(5, 10):
            rows.append((u, i, 3.0 + (u + i) % 3))
    df = spark.createDataFrame(rows, "user_id int, item_id int, rating double")
    model = train_als_recommender(df)
    recs = model.recommendForAllUsers(3).collect()
    assert len(recs) == 20
    by_user = {r["user_id"]: [x["item_id"] for x in r["recommendations"]] for r in recs}
    # every user's top-3 stays inside their block
    for u, items in by_user.items():
        block = set(range(5)) if u < 10 else set(range(5, 10))
        assert set(items) <= block, (u, items)


def test_als_explicit_designated_top1(spark):
    """Explicit ALS on the planted block grid (the
    als_block_recommender_events structure): rating 5.0 on each user's
    designated item, 1.0 on the rest of its block, cross-block
    unobserved — top-1 must recover the designated item for EVERY user
    (the analytic claim the query's oracle hashes)."""
    from azure_medicine_data_engineering_spark.ml.pipeline import (
        train_als_recommender,
    )

    rows = []
    for u in range(50):
        for slot in range(5):
            rows.append(
                (u, (u % 4) * 5 + slot, 5.0 if slot == u % 5 else 1.0)
            )
    df = spark.createDataFrame(rows, "user_bucket int, item_id int, strength double")
    model = train_als_recommender(
        df, user_col="user_bucket", rating_col="strength",
        rank=16, max_iter=10, implicit_prefs=False,
    )
    recs = model.recommendForAllUsers(1).collect()
    assert len(recs) == 50
    for r in recs:
        u = r["user_bucket"]
        assert r["recommendations"][0]["item_id"] == (u % 4) * 5 + u % 5, u


def test_als_implicit_designated_top1(spark):
    """Implicit ALS (the reference default) on the polarity-carrying
    grid (the als_implicit_block_recommender_events structure):
    r=+40 on the designated slot (p=1, c=1+α·40), r=−1 viewed-only on
    the rest of the block (p=0, c=1+α), cross-block unobserved.
    Free-sign factors; top-1 must recover the designated item for
    EVERY user — the strict claim the oracled surface relaxes to
    in_block."""
    from azure_medicine_data_engineering_spark.ml.pipeline import (
        train_als_recommender,
    )

    rows = []
    for u in range(50):
        for slot in range(5):
            rows.append(
                (u, (u % 4) * 5 + slot, 40.0 if slot == u % 5 else -1.0)
            )
    df = spark.createDataFrame(rows, "user_bucket int, item_id int, strength double")
    model = train_als_recommender(
        df, user_col="user_bucket", rating_col="strength",
        rank=16, max_iter=10, implicit_prefs=True, nonnegative=False,
    )
    recs = model.recommendForAllUsers(1).collect()
    assert len(recs) == 50
    for r in recs:
        u = r["user_bucket"]
        assert r["recommendations"][0]["item_id"] == (u % 4) * 5 + u % 5, u


def test_tpe_proposals_concentrate():
    """TPE proposal logic (no Spark): on a known objective peaked at
    maxDepth=7, minInstancesPerNode=3, adaptive proposals must land
    closer to the optimum than uniform random draws."""
    from azure_medicine_data_engineering_spark.ml.pipeline import (
        sample_tree_configs,
        tpe_propose,
    )

    def objective(c):
        return -((c["maxDepth"] - 7) ** 2) - 0.5 * (c["minInstancesPerNode"] - 3) ** 2

    history = [(c, objective(c)) for c in sample_tree_configs(10, seed=42)]
    proposed = []
    for r in range(8):
        batch = tpe_propose(history, 5, seed=100 + r)
        for c in batch:
            history.append((c, objective(c)))
            proposed.append(c)
    rand_dist = sum(
        abs(c["maxDepth"] - 7) for c in sample_tree_configs(40, seed=9)
    ) / 40
    tpe_dist = sum(abs(c["maxDepth"] - 7) for c in proposed[-20:]) / 20
    assert tpe_dist < rand_dist  # adaptivity beats uniform on the same budget
    # determinism: same history + seed -> same batch
    again = tpe_propose(history[:10], 5, seed=100)
    first = tpe_propose(history[:10], 5, seed=100)
    assert again == first


def test_tpe_search_tree_end_to_end(spark):
    """Small end-to-end budget: the batched TPE loop runs, respects the
    budget, and the returned best model scores the separable planted
    data perfectly."""
    from azure_medicine_data_engineering_spark.ml.pipeline import tpe_search_tree

    rows = [(float(i), float(i % 3), 1 if i >= 200 else 0) for i in range(400)]
    df = spark.createDataFrame(rows, "x double, noise double, label int")
    model, history = tpe_search_tree(
        df, ["x", "noise"], "label", n_configs=8, n_warmup=4, batch=2
    )
    assert len(history) == 8
    assert all(0.0 <= auc <= 1.0 for _, auc in history)
    assert max(auc for _, auc in history) >= 0.95  # separable by x


# ---------------------------------------------------------------------------
# Round 13: image-text alignment gate.
# ---------------------------------------------------------------------------


def test_alignment_gate_detects_planted_mismatches(spark):
    """Aligned samples score near-1 cosine, planted mismatches score near
    0 — the 0.6 threshold separates them exactly on the fixture."""
    from pyspark.sql import functions as F

    from azure_medicine_data_engineering_spark.sources.webdataset import (
        attach_wds_image_caption_payload,
        image_text_alignment_stats,
    )

    import hashlib

    rows = [(i, f"document number {i} with some words " * 3) for i in range(40)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    media = attach_wds_image_caption_payload(docs, "doc_id", "text")
    stats = image_text_alignment_stats(media).withColumn(
        "cos", F.expr("CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE))")
    )
    got = {r.media_id: r.cos for r in stats.collect()}
    planted = {
        i
        for i, t in rows
        if hashlib.md5(t.encode()).digest()[2] % 4 == 0
    }
    assert planted, "fixture should plant at least one mismatch"
    for i, t in rows:
        if i in planted:
            assert got[i] < 0.6, f"planted mismatch {i} not caught (cos={got[i]})"
        else:
            assert got[i] > 0.95, f"aligned sample {i} scored low (cos={got[i]})"


def test_alignment_fingerprint_comes_from_decoded_pixels(spark):
    """The image tower reads the DECODED pixels: corrupting one pixel row
    inside the PNG (re-encoded, so the container is still valid) must
    flip an aligned sample below the threshold — the gate would catch a
    broken decode path loudly."""
    import hashlib

    from pyspark.sql import functions as F

    from azure_medicine_data_engineering_spark.operators.multimodal import (
        png_decode_pixels,
        png_encode_gray,
    )
    from azure_medicine_data_engineering_spark.sources.webdataset import (
        image_text_alignment_stats,
        tar_read_members,
        tar_write_members,
    )

    text = "a perfectly aligned caption about this image " * 2
    assert hashlib.md5(text.encode()).digest()[2] % 4 != 0
    h = hashlib.md5(text.encode()).digest()
    w, ht = 4 + h[0] % 13, 4 + h[1] % 11
    pixels = (h * ((w * ht) // 16 + 1))[: w * ht]
    corrupted = bytes([pixels[0] ^ 0xFF]) + bytes(pixels[1:])
    members = [
        ("000000001.png", png_encode_gray(w, ht, corrupted)),
        ("000000001.txt", text.encode()),
    ]
    media = spark.createDataFrame(
        [(1, "wds", bytearray(tar_write_members(members)))],
        "media_id long, media_type string, payload binary",
    )
    out = image_text_alignment_stats(media).withColumn(
        "cos", F.expr("CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE))")
    )
    [r] = out.collect()
    assert r.cos < 0.6
