"""The benchmark's contingency F1 against the repository's
pair-materialising evaluator, on a tiny planted corpus."""

import pytest

from stats import contingency_f1


def test_contingency_f1_matches_pairwise_f1(spark):
    from pyspark.sql import functions as F

    from dedupe_spark.corpus import generate_pages
    from dedupe_spark.evaluate import labeled_same_block_pairs, pairwise_f1

    pages = generate_pages(spark, 240, seed=5).select(
        F.xxhash64("url").alias("doc_id"), "truth_key")
    # an imperfect clustering: the hot block split in two by id parity,
    # and every near-duplicate cluster merged into one
    clusters = pages.select(
        "doc_id",
        F.xxhash64(
            F.when(F.col("truth_key") == "hot", F.concat(F.lit("hot"), (F.col("doc_id") % 2).cast("string")))
            .when(F.col("truth_key").startswith("near:"), F.lit("near"))
            .otherwise(F.col("truth_key"))
        ).alias("cluster_id"),
    )
    # one shared block key: every pair of records is labelled, so the
    # same-block evaluator scores all pairs, as the contingency count does
    keys = pages.select("doc_id", F.lit("all").alias("block_key"))
    expected = pairwise_f1(labeled_same_block_pairs(keys, pages), clusters)

    rows = clusters.join(pages, "doc_id").select("cluster_id", "truth_key").collect()
    got = contingency_f1((r[0], r[1]) for r in rows)
    assert 0.0 < expected["f1"] < 1.0
    assert got["tp"] == expected["tp"]
    assert got["predicted_pairs"] == expected["tp"] + expected["fp"]
    assert got["true_pairs"] == expected["tp"] + expected["fn"]
    assert got["f1"] == pytest.approx(expected["f1"], rel=1e-12)
