"""The benchmark writes its inputs without a JVM; Spark must read back
exactly what ``corpus.generate_pages`` yields for the same seed."""

from workloads import Crawl, Link


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pages_equal_generate_pages(spark, tmp_path):
    from dedupe_spark.corpus import generate_pages

    wl = Crawl()
    wl.pages = 57
    rows, digest = wl.make_inputs(seed=11, inputs=str(tmp_path), parts=3)
    written = spark.read.parquet(wl.input_path(str(tmp_path)))
    expected = generate_pages(spark, 57, seed=11)
    assert rows == 57 and written.count() == 57
    assert written.schema == expected.schema
    assert _sorted_rows(written) == _sorted_rows(expected)
    assert len(list((tmp_path / "pages").glob("part-*.parquet"))) == 3
    # same seed, same digest; another seed, another digest
    assert wl.make_inputs(seed=11, inputs=str(tmp_path / "again"), parts=2)[1] == digest
    assert wl.make_inputs(seed=12, inputs=str(tmp_path / "other"), parts=3)[1] != digest


def test_link_documents_follow_the_corpus(spark, tmp_path):
    wl = Link()
    wl.pages = 20
    wl.make_inputs(seed=3, inputs=str(tmp_path), parts=2)
    docs = spark.read.parquet(wl.input_path(str(tmp_path))).orderBy("doc_id").collect()
    truth = spark.read.parquet(str(tmp_path / "truth")).orderBy("doc_id").collect()
    assert [d.doc_id for d in docs] == [t.doc_id for t in truth] == list(range(20))
    assert all(d.n_chars == len(d.text) for d in docs)
    assert {d.source.split(".", 1)[1] for d in docs} <= {"example.com", "example.org"}
