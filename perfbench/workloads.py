"""The benchmark's workloads.

Each workload makes its inputs from a seed, runs one operation — a
production entry point of ``jobs/`` with its defaults — checks that
operation's output, and, for the traced run, does the same work with a
span around each layer call. NOTES.md says why each
workload exists and which layer metrics should move which end-to-end
metric.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import io
import json
import os
import shutil
import time

from stats import contingency_f1, partition_digest, rows_digest, tree_cpu_s

def _call_main(module: str, argv: list[str]) -> dict:
    """Run a ``jobs/`` entry point's main; return the JSON stats line it
    prints."""
    main = importlib.import_module(module).main
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main(argv)
    lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
    return json.loads(lines[-1])


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _block_counts(keys, cfg) -> dict:
    """Block-size counts of a (doc_id, block_key) table under a blocking
    config (``PipelineConfig`` or ``LinkageConfig``), and the rows the
    per-block expansion makes before pairs are deduplicated."""
    from pyspark.sql import functions as F

    from dedupe_spark.operators.pairs import pairs_per_block

    blocks = keys.groupBy("block_key").count().agg(
        F.sum((F.col("count") >= 2).cast("long")).alias("ge2"),
        F.max("count").alias("max"),
        F.sum((F.col("count") > cfg.hot_threshold).cast("long")).alias("hot"),
    ).first()
    per_block, _ = pairs_per_block(keys, hot_threshold=cfg.hot_threshold,
                                   salt_buckets=cfg.salt_buckets,
                                   max_block_size=cfg.max_block_size)
    return {"blocking.blocks_ge2": blocks["ge2"] or 0, "blocking.max_block": blocks["max"] or 0,
            "pairs.hot_blocks": blocks["hot"] or 0, "pairs.per_block_rows": per_block.count()}


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p)) / 2**20


def corpus_rows(n: int, seed: int) -> list[dict]:
    """The rows ``corpus.generate_pages(spark, n, seed)`` holds: the
    per-index function it maps over ``range(n)``, called here without a
    JVM so that inputs are made while the JVM starts. A test pins the
    equality with ``generate_pages``."""
    from dedupe_spark.corpus import _row

    return [_row(i, seed) for i in range(n)]


def write_table(rows: list[dict], schema, path: str, parts: int) -> tuple[int, str]:
    """Write rows as ``parts`` parquet files of consecutive rows — the
    layout a Spark write of ``generate_pages`` (one partition per core)
    leaves — and return (rows, order-insensitive content digest)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pylist(rows, schema=schema)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n = table.num_rows
    for i in range(parts):
        lo, hi = i * n // parts, (i + 1) * n // parts
        pq.write_table(table.slice(lo, hi - lo), os.path.join(tmp, f"part-{i:05d}.parquet"))
    os.replace(tmp, path)
    cols = sorted(table.column_names)
    return n, rows_digest(zip(*(table.column(c).to_pylist() for c in cols)))


def _pages_schema():
    import pyarrow as pa

    # corpus.PAGES_SCHEMA; Spark reads a UTC-adjusted timestamp as its
    # session-zone TIMESTAMP
    return pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                      ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
                      ("truth_key", pa.string())])


def _columns(path: str, key: str, value: str) -> tuple[dict, int]:
    """{key: value} from two columns of a parquet table (read with
    pyarrow: a check adds no Spark job), and the table's row count."""
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=[key, value])
    return dict(zip(table.column(key).to_pylist(), table.column(value).to_pylist())), table.num_rows


def _label_check(clusters: tuple[dict, int], truth: dict, n_expected: int
                 ) -> tuple[list[str], dict, str]:
    """clusters = ({record id: cluster id}, rows), truth = {record id:
    truth key} → problems, pairwise F1 against truth, and the clustering
    digest."""
    assigned, n_rows = clusters
    problems = []
    if n_rows != n_expected or len(assigned) != n_expected:
        problems.append(f"{len(assigned)} distinct clustered records in {n_rows} rows, "
                        f"expected {n_expected}")
    if assigned.keys() != truth.keys() or None in assigned.values():
        problems.append("clustered records differ from the input records")
        return problems, {"f1": 0.0}, ""
    f1 = contingency_f1((c, truth[r]) for r, c in assigned.items())
    return problems, f1, partition_digest(assigned.items())


class Workload:
    name = ""
    pages = 0
    # top-level spans of the traced chain, in order
    chain: tuple[str, ...] = ()

    def input_path(self, inputs: str) -> str:
        raise NotImplementedError

    def make_inputs(self, seed: int, inputs: str, parts: int) -> tuple[int, str]:
        """Write the inputs for ``seed``; return (rows, content digest)."""
        raise NotImplementedError

    def op(self, inputs: str, work: str) -> dict:
        """One timed operation writing to an empty ``work``; returns the
        job's own JSON stats line."""
        raise NotImplementedError

    def check(self, inputs: str, work: str, stats: dict) -> dict:
        """Check an operation's output; ``stats`` is the job's own JSON
        line, empty for the traced chain, which prints none."""
        raise NotImplementedError

    def traced(self, spark, tracer, inputs: str, work: str) -> dict:
        """The operation as a chain of spans; returns the counts the
        per-layer metrics need (``rows_out`` per layer and the
        layer-specific ones)."""
        raise NotImplementedError


class Crawl(Workload):
    """One ``jobs/submit_pipeline.py`` run, full-commit defaults, over a
    planted corpus (2,000 pages: below the doc-major scoring switch)."""

    name = "crawl"
    pages = 2_000
    chain = ("extract", "exact", "blocking", "pairs", "scoring", "cc", "report")

    def input_path(self, inputs: str) -> str:
        return os.path.join(inputs, "pages")

    def make_inputs(self, seed: int, inputs: str, parts: int) -> tuple[int, str]:
        # the corpus's own schema: truth_key rides along, and the
        # pipeline's extract stage drops it
        return write_table(corpus_rows(self.pages, seed), _pages_schema(),
                           self.input_path(inputs), parts)

    def op(self, inputs: str, work: str) -> dict:
        return _call_main("jobs.submit_pipeline",
                          ["--input", self.input_path(inputs), "--work-dir", work])

    def check(self, inputs: str, work: str, stats: dict) -> dict:
        truth_of_url, _ = _columns(self.input_path(inputs), "url", "truth_key")
        url_of_doc, _ = _columns(os.path.join(work, "s1_docs"), "doc_id", "url")
        truth = {d: truth_of_url.get(u) for d, u in url_of_doc.items()}
        problems, f1, digest = _label_check(
            _columns(os.path.join(work, "s7_clusters"), "doc_id", "cluster_id"), truth, self.pages)
        if stats and stats.get("n_docs") != self.pages:
            problems.append(f"job reported n_docs={stats.get('n_docs')}")
        # every planted cluster is recoverable at this size: the
        # pipeline's pinned quality on every seed is pairwise F1 = 1.0
        if f1["f1"] != 1.0:
            problems.append(f"pair_f1={f1['f1']} (pinned 1.0)")
        # stage walls as the stage store recorded them, for the record
        stage_s = {}
        for name in sorted(glob.glob(os.path.join(work, "_checkpoint_*.json"))):
            with open(name) as f:
                marker = json.load(f)
            stage_s[marker["stage"]] = round(marker["t_end"] - marker["t_start"], 3)
        return {"problems": problems, "pair_f1": f1["f1"], "cluster_digest": digest,
                "dup_clusters": stats.get("n_dup_clusters"), "stage_s": stage_s}

    def traced(self, spark, tracer, inputs: str, work: str) -> dict:
        """The pipeline chained one stage per call over one work dir in
        full-commit mode, so each call builds and commits exactly one
        stage; then measurement-only spans and counts."""
        from pyspark.sql import functions as F

        from dedupe_spark.functions.similarity import jaro_winkler_udf
        from dedupe_spark.operators import scoring
        from dedupe_spark.pipeline import STAGES, PipelineConfig, run_pipeline
        from dedupe_spark.sources.checkpoints import StageIO

        cfg = PipelineConfig()
        layer_of = dict(zip(STAGES, self.chain))
        doc_major = None
        for name in STAGES:
            with tracer.span(layer_of[name]):
                if name == STAGES[0]:
                    pages = spark.read.parquet(self.input_path(inputs))
                out = run_pipeline(spark, pages, work, config=cfg, stop_after=name)
                out["_cleanup"]()
                if name == "s8_report":
                    # the job's own summary counts (jobs/submit_pipeline.py)
                    out["s7_clusters"].count()
                    out["s8_report"].count()
            doc_major = out.get("_doc_major", doc_major)

        stage = StageIO(spark, work)
        rows_out = {}
        for name in STAGES:
            with open(os.path.join(work, f"_checkpoint_{name}.json")) as f:
                rows_out[layer_of[name]] = json.load(f)["rows_out"]

        # measurement-only spans over the committed s1/s2/s4 inputs:
        # the doc-major prep UDF, and the Jaro-Winkler UDF alone
        s1, s2 = stage.read("s1_docs"), stage.read("s2_exact")
        reps = (s2.where(F.col("doc_id") == F.col("rep_id")).select("doc_id")
                .join(s1.select("doc_id", "text"), "doc_id"))
        with tracer.span("scoring.prep"):
            feats = scoring.doc_features(reps, sc=spark.sparkContext).persist()
            feats.count()
        with tracer.span("bench:jw-input"):
            pre = feats.select("doc_id", "jw_pre")
            jw_in = (stage.read("s4_pairs")
                     .join(pre.toDF("id1", "a"), "id1").join(pre.toDF("id2", "b"), "id2")
                     .persist())
            jw_in.count()
        with tracer.span("scoring.jw"):
            _force(jw_in.select(jaro_winkler_udf(F.col("a"), F.col("b"))))
        jw_in.unpersist()
        feats.unpersist()
        with tracer.span("checkpoints"):
            for name in STAGES:
                _force(stage.read(name))

        with tracer.span("bench:counts"):
            n_reps = reps.count()
            blocks = _block_counts(stage.read("s3_keys"), cfg)
            n_matches = scoring.matches(stage.read("s5_scored"), cfg.threshold).count()
        n_star = rows_out["exact"] - n_reps
        return {
            "rows_out": {**rows_out, "checkpoints": sum(rows_out.values()),
                         "pairs": rows_out["pairs"]},
            "blocking.keys_per_rep": rows_out["blocking"] / n_reps,
            **blocks,
            "pairs.candidates": rows_out["pairs"],
            "scoring.scored": rows_out["scoring"],
            "scoring.matches": n_matches,
            "scoring.doc_major": 1 if doc_major else 0,
            "cc.edges_in": n_matches + n_star,
            "checkpoints.written_mb": sum(_dir_mb(stage.stage_dir(s)) for s in STAGES),
            "reps": n_reps,
        }


class CrawlLarge(Crawl):
    """``crawl`` at 13,000 pages, ~10.1k representatives: above
    ``doc_major_min_reps``, so s5 scores doc-major."""

    name = "crawl-large"
    pages = 13_000


class Shards(Crawl):
    """One shard of a long-lived driver's series: ``jobs/submit_pipeline.py``
    killed after s4 (``--stop-after s4_pairs``), then resumed to the end
    on the same work dir. The shard sits below the doc-major switch, so
    s5 scores with the per-pair path."""

    name = "shards"
    pages = 1_000

    def op(self, inputs: str, work: str) -> dict:
        args = ["--input", self.input_path(inputs), "--work-dir", work]
        killed = _call_main("jobs.submit_pipeline", args + ["--stop-after", "s4_pairs"])
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        stats = _call_main("jobs.submit_pipeline", args)
        return {**stats, "resume_s": time.perf_counter() - t0,
                "resume_cpu_s": tree_cpu_s() - cpu0, "killed_run": killed["stages_run"]}

    def check(self, inputs: str, work: str, stats: dict) -> dict:
        from dedupe_spark.pipeline import STAGES

        out = super().check(inputs, work, stats)
        if stats:
            # the kill committed s1-s4 and the resume recomputed none of them
            if stats["killed_run"] != list(STAGES[:4]) or stats["stages_skipped"] != list(STAGES[:4]):
                out["problems"].append(f"kill ran {stats['killed_run']}, resume skipped "
                                       f"{stats['stages_skipped']}")
            out |= {k: stats[k] for k in ("resume_s", "resume_cpu_s")}
        return out


class Link(Workload):
    """One ``jobs/link_records.py`` run over a documents table derived
    from the planted corpus (source = url host)."""

    name = "link"
    pages = 1_000
    chain = ("linkage",)

    def input_path(self, inputs: str) -> str:
        return os.path.join(inputs, "documents")

    def make_inputs(self, seed: int, inputs: str, parts: int) -> tuple[int, str]:
        import pyarrow as pa
        from urllib.parse import urlsplit

        rows = corpus_rows(self.pages, seed)
        docs = [{"doc_id": i, "text": r["text"], "lang": r["lang"],
                 "source": urlsplit(r["url"]).hostname, "n_chars": len(r["text"])}
                for i, r in enumerate(rows)]
        write_table([{"doc_id": i, "truth_key": r["truth_key"]} for i, r in enumerate(rows)],
                    pa.schema([("doc_id", pa.int64()), ("truth_key", pa.string())]),
                    os.path.join(inputs, "truth"), 1)
        return write_table(docs, pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", pa.int64())]), self.input_path(inputs), parts)

    def op(self, inputs: str, work: str) -> dict:
        return _call_main("jobs.link_records",
                          ["--input", self.input_path(inputs), "--output", work])

    def check(self, inputs: str, work: str, stats: dict) -> dict:
        truth, _ = _columns(os.path.join(inputs, "truth"), "doc_id", "truth_key")
        clusters = _columns(os.path.join(work, "clusters"), "doc_id", "cluster_id")
        problems, f1, digest = _label_check(clusters, truth, self.pages)
        n_clusters = len(set(clusters[0].values()))
        if stats and stats.get("n_records") != self.pages:
            problems.append(f"job reported n_records={stats.get('n_records')}")
        if stats and stats.get("n_golden_records") != n_clusters:
            problems.append(f"{stats.get('n_golden_records')} golden records for {n_clusters} clusters")
        # quality is recorded as found, not gated (NOTES.md)
        return {"problems": problems, "pair_f1": f1["f1"], "cluster_digest": digest,
                "multi_record_clusters": stats.get("n_multi_record_clusters"),
                "dropped_comparisons": stats.get("dropped_comparisons")}

    def traced(self, spark, tracer, inputs: str, work: str) -> dict:
        """``jobs/link_records.py``'s main itself inside a ``linkage`` span,
        with child spans around the layer calls it makes: ``estimate_u``
        (``fs.u``), ``estimate_m_u_em`` (``fs.em``) and ``assign_all``
        (``cc``) inside ``link_records``, and the golden-record write
        (``survivorship``: ``golden_records`` only plans, its work runs in
        that write). The rest — reads, lazy plans, the clusters write, the
        summary counts — lands in ``linkage``. Then a measurement-only
        ``pairs`` span expands the candidates alone, over the keys the
        job passed to ``link_records``; in the job that expansion runs
        inside fs's EM input."""
        from pyspark.sql import DataFrameWriter
        from pyspark.sql import functions as F

        from dedupe_spark import linkage
        from dedupe_spark.operators.pairs import generate_pairs

        def golden_write(_writer, path, *_args, **_kwargs):
            return "survivorship" if path.endswith("/golden") else None

        with tracer.span("linkage"), \
                tracer.around(linkage, "link_records", None), \
                tracer.around(linkage, "estimate_u", "fs.u"), \
                tracer.around(linkage, "estimate_m_u_em", "fs.em"), \
                tracer.around(linkage, "assign_all", "cc"), \
                tracer.around(DataFrameWriter, "parquet", golden_write):
            stats = self.op(inputs, work)
        (_records, keys, cfg), _, res = tracer.calls["link_records"]

        with tracer.span("pairs"):
            n_cand = generate_pairs(keys, hot_threshold=cfg.hot_threshold,
                                    salt_buckets=cfg.salt_buckets,
                                    max_block_size=cfg.max_block_size)[0].count()
        with tracer.span("bench:counts"):
            blocks = _block_counts(keys, cfg)
            n_edges = res.scored.where(F.col("match_prob") >= cfg.threshold).count()
        n_records = stats["n_records"]
        return {
            "job_stats": stats,
            "rows_out": {"linkage": n_records, "fs": n_cand, "cc": n_records,
                         "survivorship": stats["n_golden_records"], "pairs": n_cand},
            **blocks,
            "pairs.candidates": n_cand,
            "cc.edges_in": n_edges,
        }


WORKLOADS = {w.name: w for w in (Crawl, CrawlLarge, Shards, Link)}
