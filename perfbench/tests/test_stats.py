import math
import statistics

import pytest

from stats import contingency_f1, median, partition_digest, rows_digest, spread


def test_contingency_f1_perfect_clustering():
    labels = [(1, "a"), (1, "a"), (2, "b"), (3, "c"), (3, "c"), (3, "c")]
    r = contingency_f1(labels)
    assert r["tp"] == r["predicted_pairs"] == r["true_pairs"] == 4
    assert r["f1"] == 1.0


def test_contingency_f1_merge_and_split():
    # truth a = {0,1,2}, b = {3,4}; clusters: x = {0,1,3}, y = {2}, z = {4}
    labels = [("x", "a"), ("x", "a"), ("y", "a"), ("x", "b"), ("z", "b")]
    r = contingency_f1(labels)
    # predicted pairs: C(3,2)=3; true pairs: C(3,2)+C(2,2)=4; tp: (0,1) only
    assert (r["tp"], r["predicted_pairs"], r["true_pairs"]) == (1, 3, 4)
    assert r["precision"] == pytest.approx(1 / 3)
    assert r["recall"] == pytest.approx(1 / 4)
    assert r["f1"] == pytest.approx(2 * (1 / 3) * (1 / 4) / (1 / 3 + 1 / 4))


def test_contingency_f1_all_singletons():
    # no predicted pair: precision reads 1.0 (empty), recall 0 → F1 0,
    # the evaluate.pairwise_f1 convention
    r = contingency_f1([(1, "a"), (2, "a"), (3, "b")])
    assert r["precision"] == 1.0 and r["recall"] == 0.0 and r["f1"] == 0.0


def test_partition_digest_ignores_labels_and_order():
    a = [(10, 7), (11, 7), (12, 9)]
    b = [(12, 1), (11, 2), (10, 2)]
    assert partition_digest(a) == partition_digest(b)
    assert partition_digest(a) != partition_digest([(10, 7), (11, 8), (12, 9)])


def test_rows_digest_is_order_insensitive():
    rows = [(1, "x", None), (2, "y", 3.5)]
    assert rows_digest(rows) == rows_digest(list(reversed(rows)))
    assert rows_digest(rows) != rows_digest([(1, "x", None), (2, "y", 3.25)])


def test_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.5, 10.2, 10.4, 12.0, 9.9, 10.1, 10.0, 10.3]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert spread(values) == pytest.approx((q3 - q1) / q2)
    assert median(values) == statistics.median(values)
    assert math.isinf(spread([0.0, 0.0, 0.0]))


def test_proc_readings_cover_this_process():
    import os

    from stats import calibrate, cpu_s, peak_rss_mb, process_tree, tree_cpu_s

    sum(i * i for i in range(200_000))  # burn a little CPU
    assert os.getpid() in process_tree(os.getpid())
    assert tree_cpu_s() >= cpu_s([os.getpid()]) > 0
    assert peak_rss_mb() > 1
    c = calibrate(2, mb_per_thread=2)
    assert c["sha256_1t_mbps"] > 0 and c["sha256_2t_mbps"] > 0 and c["effective_cores"] > 0
