"""The output check every operation goes through."""

from workloads import _label_check


def test_label_check_accepts_a_complete_clustering():
    clusters = ({1: 1, 2: 1, 3: 3}, 3)
    truth = {1: "a", 2: "a", 3: "single:3"}
    problems, f1, digest = _label_check(clusters, truth, 3)
    assert problems == [] and f1["f1"] == 1.0 and digest


def test_label_check_flags_lost_duplicated_and_foreign_records():
    truth = {1: "a", 2: "a", 3: "b"}
    lost = _label_check(({1: 1, 2: 1}, 2), truth, 3)[0]
    assert lost and "expected 3" in lost[0]
    duplicated = _label_check(({1: 1, 2: 1, 3: 3}, 4), truth, 3)[0]
    assert duplicated and "in 4 rows" in duplicated[0]
    foreign = _label_check(({1: 1, 2: 1, 9: 9}, 3), truth, 3)[0]
    assert foreign == ["clustered records differ from the input records"]


def test_label_check_scores_a_wrong_clustering():
    truth = {1: "a", 2: "a", 3: "b", 4: "b"}
    problems, f1, _ = _label_check(({1: 1, 2: 2, 3: 3, 4: 3}, 4), truth, 4)
    assert problems == [] and f1["precision"] == 1.0 and f1["recall"] == 0.5
