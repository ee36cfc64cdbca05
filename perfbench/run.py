"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run from any directory; the package under test is the checkout this
file sits in. Inputs, work dirs, event logs and result records go under
``.perfbench/`` at the checkout root and nowhere else.

``--trace 0`` measures the end-to-end metrics with the Spark event log
off. ``--trace 1`` runs the workload once untraced and once as a chain
of layer calls with the event log on, and reports the per-layer
metrics. Either way the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 1
when an operation failed or its output check did not hold.
"""

from __future__ import annotations

import argparse
import concurrent.futures as cf
import glob
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

from stats import (  # noqa: E402  (HERE is on sys.path as the script dir)
    calibrate,
    mem_total_mb,
    median,
    peak_rss_mb,
    process_start_epoch,
    process_tree,
    tree_cpu_s,
)
from tracing import Tracer, event_log_files, layer_totals, parse_event_log, unattributed_tasks  # noqa: E402

# Per-layer metrics: every layer reports the generic set; a layer a
# workload does not exercise reports zeros.
LAYERS = ("extract", "exact", "blocking", "pairs", "scoring", "cc", "report",
          "checkpoints", "fs", "linkage", "survivorship")
GENERIC = (("wall_s", "s"), ("task_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB"),
           ("spill_mb", "MB"), ("jobs", "count"), ("tasks_failed", "count"),
           ("rows_out", "count"))
# layer -> the span names (= job descriptions) whose work it owns
LAYER_SPANS = {layer: (layer,) for layer in LAYERS} | {"fs": ("fs.u", "fs.em")}
SPECIFIC = (
    ("blocking.keys_per_rep", "ratio"), ("blocking.blocks_ge2", "count"),
    ("blocking.max_block", "count"), ("pairs.candidates", "count"),
    ("pairs.per_block_rows", "count"), ("pairs.yield", "ratio"),
    ("pairs.hot_blocks", "count"), ("scoring.prep_s", "s"), ("scoring.jw_s", "s"),
    ("scoring.pairs_scored_per_s", "1/s"), ("scoring.match_ratio", "ratio"),
    ("scoring.doc_major", "bool"), ("cc.edges_in", "count"),
    ("checkpoints.written_mb", "MB"), ("pipeline.cached_rdds", "count"),
    ("fs.u_s", "s"), ("fs.em_s", "s"), ("fs.em_jobs", "count"),
    ("survivorship.golden_s", "s"), ("trace.overhead_s", "s"), ("trace.coverage", "ratio"),
)
PER_LAYER_UNITS = {f"{layer}.{m}": u for layer in LAYERS for m, u in GENERIC} | dict(SPECIFIC)
# the metrics BENCHMARK.json bounds; the record and the summary line
# carry the wall-time ones too
END_TO_END_UNITS = {"setup_s": "s", "cpu_s": "s"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


def prepare_environment() -> None:
    """Point the program, its Spark workers and every temp file at this
    checkout: workers import ``dedupe_spark`` through PYTHONPATH, so the
    benchmark works from any working directory."""
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the JVM's own temp files go here too; -UsePerfData stops it writing
    # its perf-counter file to the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(ROOT)


class Sessions:
    """SparkSession lifetime: start, and the final stop that ends the
    JVM and every process under it."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None

    def start(self, event_log_dir: str | None = None):
        from dedupe_spark.session import get_spark

        extra = {"spark.ui.showConsoleProgress": "false"}
        if event_log_dir:
            extra |= {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                      "spark.eventLog.dir": f"file://{event_log_dir}"}
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=extra)
        return self.spark

    def stop(self, jvm: bool = False) -> None:
        """Stop the session; with ``jvm`` also end the JVM and every
        process under it, and wait for them."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if not jvm or gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        reap_children()


def reap_children(timeout: float = 30.0) -> None:
    """Wait for every process this one started to end; kill stragglers."""
    deadline = time.time() + timeout
    while True:
        left = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.2)
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def host_config(spark, cores: int) -> dict:
    import pyspark

    conf = spark.conf
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(mem_total_mb()),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "cores": cores,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "arrow_batch": conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
    }


def ensure_inputs(wl, seed: int, parts: int) -> dict:
    """Inputs are made once per (workload, seed), outside any timed
    section, and identified by a content digest. A digest pinned for
    this seed in pins.json must match, so two commits read the same
    rows."""
    inputs = os.path.join(STATE, "inputs", f"{wl.name}-s{seed}")
    manifest = os.path.join(inputs, "manifest.json")
    cpu0 = time.thread_time()
    if not os.path.exists(manifest):
        shutil.rmtree(inputs, ignore_errors=True)
        os.makedirs(inputs)
        rows, digest = wl.make_inputs(seed, inputs, parts)
        with open(manifest + ".tmp", "w") as f:
            json.dump({"workload": wl.name, "seed": seed, "rows": rows, "digest": digest}, f)
        os.replace(manifest + ".tmp", manifest)
    with open(manifest) as f:
        info = json.load(f)
    info["make_cpu_s"] = time.thread_time() - cpu0
    with open(os.path.join(HERE, "pins.json")) as f:
        pinned = json.load(f).get(wl.name, {}).get(str(seed), {}).get("input_digest")
    info["dir"] = inputs
    info["pinned"] = pinned is not None
    info["problems"] = ([f"input digest {info['digest']} != pinned {pinned}"]
                        if pinned not in (None, info["digest"]) else [])
    return info


def record_digest(wl, seed: int, digest: str) -> list[str]:
    """All runs of one commit share one clustering per (workload, seed):
    the first run records it in this checkout, later runs must match."""
    path = os.path.join(STATE, "state", f"{wl.name}-s{seed}.digest")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if os.path.exists(path):
        with open(path) as f:
            known = f.read().strip()
        return [] if known == digest else [f"cluster digest {digest} != {known} of an earlier run"]
    with open(path, "w") as f:
        f.write(digest)
    return []


def timed_op(wl, inputs: dict, work: str) -> tuple[float, dict]:
    """One operation and its output check. Returns (wall seconds, check);
    a raise is caught and counted as a failed operation."""
    shutil.rmtree(work, ignore_errors=True)
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    try:
        stats = wl.op(inputs["dir"], work)
    except Exception:  # noqa: BLE001 — a failed operation is a result
        traceback.print_exc()
        return time.perf_counter() - t0, {"problems": ["operation raised"]}
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s() - cpu0
    try:
        check = wl.check(inputs["dir"], work, stats)
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        check = {"problems": ["output check raised"]}
    return wall, {"cpu_s": cpu, **check}


def open_input(spark, wl, inputs: dict) -> None:
    spark.read.parquet(wl.input_path(inputs["dir"])).schema


def code_digest() -> str:
    """Digest of the program's and the benchmark's sources, recorded in
    every result: a traced run takes its untraced reference only from a
    run of the same code."""
    h = hashlib.sha256()
    for pattern in ("dedupe_spark/**/*.py", "jobs/*.py", "perfbench/*.py", "perfbench/pins.json"):
        for path in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def measure(args, wl, sessions: Sessions) -> dict:
    """End-to-end run: one cold set-up, as every ``spark-submit`` job
    pays it, then a closed loop of operations (one client) for
    ``--seconds``."""
    t_proc = process_start_epoch()
    phases = {}  # seconds since process start, for the record

    def mark(name: str) -> None:
        phases[name] = time.time() - t_proc

    # inputs need no JVM: they are made in a thread while it starts
    with cf.ThreadPoolExecutor(1) as pool:
        pending = pool.submit(ensure_inputs, wl, args.seed, sessions.cores)
        spark = sessions.start()
        inputs = pending.result()
    open_input(spark, wl, inputs)
    # from process start (interpreter, imports, JVM launch, session)
    # until the input is open, less the CPU spent making inputs; no
    # Python worker has started yet, so this is driver and JVM
    setup_cpu = tree_cpu_s() - inputs["make_cpu_s"]
    mark("setup_done")
    record = {"host": host_config(spark, sessions.cores), "inputs": inputs,
              "setup_wall_s": phases["setup_done"], "setup_cpu_s": setup_cpu,
              "calibration_before": calibrate(sessions.cores), "phases": phases}

    ops = []
    work = os.path.join(STATE, "work", wl.name)
    t_loop = time.perf_counter()
    while True:
        wall, check = timed_op(wl, inputs, work)
        if check.get("cluster_digest"):
            check["problems"] += record_digest(wl, args.seed, check["cluster_digest"])
        ops.append({"wall_s": wall, **check})
        if time.perf_counter() - t_loop >= args.seconds:
            break
    mark("ops_done")
    record["peak_rss_mb"] = peak_rss_mb()
    # RDDs the production job left cached (a long-lived driver leaks them)
    record["cached_rdds"] = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    walls = [op["wall_s"] for op in ops]
    record["ops"] = ops
    record["metrics"] = {
        "setup_s": setup_cpu,
        "setup_wall_s": phases["setup_done"],
        "run_s": median(walls),
        "pages_per_s": wl.pages * len(walls) / sum(walls),
        "cpu_s": median(op.get("cpu_s", 0.0) for op in ops),
        "peak_rss_mb": record["peak_rss_mb"],
    }
    return record


def untraced_reference(args, wl, code: str) -> dict | None:
    """The newest untraced result of this workload and seed made by this
    code, running one in a child process if there is none."""
    def newest() -> dict | None:
        found = []
        for path in glob.glob(os.path.join(STATE, "results", f"{wl.name}-s{args.seed}-t0-*.json")):
            with open(path) as f:
                rec = json.load(f)
            if rec.get("code") == code:
                found.append((os.path.getmtime(path), path, rec))
        return max(found)[2] if found else None

    if (ref := newest()) is not None:
        return ref
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl.name,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    try:
        child = subprocess.run(cmd, capture_output=True, text=True, timeout=120)
    except subprocess.TimeoutExpired:
        log("the untraced reference run timed out")
        return None
    print(child.stdout.strip().rsplit("\n", 1)[0], flush=True)
    return newest()


def trace(args, wl, sessions: Sessions) -> dict:
    """Traced run. Its reference is an untraced run of the same
    workload, seed and code (see ``untraced_reference``). Then, in this
    process and a fresh JVM with the event log on, the same work runs
    as a chain of layer calls. Both start from a cold JVM, so the
    difference of their run times is the cost of tracing."""
    untraced = untraced_reference(args, wl, code_digest())
    if untraced is None:
        ops = [{"wall_s": None, "problems": ["no untraced reference run"]}]
        untraced_s, cached_rdds = None, 0
    else:
        untraced_s, cached_rdds = untraced["metrics"]["run_s"], untraced["cached_rdds"]
        ops = [{"wall_s": untraced_s,
                "problems": [p for op in untraced["ops"] for p in op["problems"]]}]

    run_id = f"{wl.name}-s{args.seed}-{int(time.time())}"
    log_dir = os.path.join(STATE, "eventlog", run_id)
    os.makedirs(log_dir)
    spark = sessions.start(event_log_dir=log_dir)
    tracer = Tracer(run_id, spark.sparkContext.setJobDescription)
    with tracer.span("bench:setup"):
        inputs = ensure_inputs(wl, args.seed, sessions.cores)
        open_input(spark, wl, inputs)
    record = {"host": host_config(spark, sessions.cores), "inputs": inputs,
              "calibration_before": calibrate(sessions.cores)}
    traced_work = os.path.join(STATE, "work", f"{wl.name}-traced")
    shutil.rmtree(traced_work, ignore_errors=True)
    try:
        facts = wl.traced(spark, tracer, inputs["dir"], traced_work)
        with tracer.span("bench:check"):
            traced_check = wl.check(inputs["dir"], traced_work, facts.get("job_stats", {}))
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        facts, traced_check = None, {"problems": ["traced run raised"]}
    problems = traced_check["problems"]
    if traced_check.get("cluster_digest"):
        # the untraced run recorded its clustering for this seed
        problems += record_digest(wl, args.seed, traced_check["cluster_digest"])
    ops.append({"wall_s": None, **traced_check, "problems": problems, "traced": True})
    record["peak_rss_mb"] = peak_rss_mb()
    sessions.stop()
    tracer.write(os.path.join(log_dir, "spans.json"))
    record["ops"] = ops
    if facts is None:
        record["metrics"] = {}
        return record

    parsed = parse_event_log(event_log_files(log_dir))
    known = {s.name for s in tracer.spans}
    lost = unattributed_tasks(parsed, known)
    if lost:
        problems.append(f"{lost} traced tasks not attributed to a layer")
    record["metrics"] = layer_metrics(wl, tracer, parsed, facts, untraced_s, cached_rdds)
    return record


def layer_metrics(wl, tracer: Tracer, parsed, facts: dict, untraced_s: float | None,
                  cached_rdds: int) -> dict:
    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    for layer in LAYERS:
        spans = LAYER_SPANS[layer]
        totals = layer_totals(parsed, list(spans))
        m[f"{layer}.wall_s"] = sum(tracer.self_time(s) for s in spans)
        for k in ("task_s", "gc_s", "shuffle_mb", "spill_mb", "jobs", "tasks_failed"):
            m[f"{layer}.{k}"] = totals[k]
        m[f"{layer}.rows_out"] = facts["rows_out"].get(layer, 0)
    for k, v in facts.items():
        if k in m:
            m[k] = v
    if m["pairs.per_block_rows"]:
        m["pairs.yield"] = m["pairs.candidates"] / m["pairs.per_block_rows"]
    if facts.get("scoring.scored"):
        m["scoring.pairs_scored_per_s"] = facts["scoring.scored"] / tracer.total("scoring")
        m["scoring.match_ratio"] = facts["scoring.matches"] / facts["scoring.scored"]
    m["scoring.prep_s"] = tracer.total("scoring.prep")
    m["scoring.jw_s"] = tracer.total("scoring.jw")
    m["fs.u_s"] = tracer.total("fs.u")
    m["fs.em_s"] = tracer.total("fs.em")
    m["fs.em_jobs"] = layer_totals(parsed, ["fs.em"])["jobs"]
    m["survivorship.golden_s"] = tracer.total("survivorship")
    m["pipeline.cached_rdds"] = cached_rdds
    chain = [s for s in tracer.spans if s.name in wl.chain and s.parent is None]
    traced_s = max(s.end for s in chain) - min(s.start for s in chain)
    m["trace.overhead_s"] = traced_s - untraced_s if untraced_s is not None else 0.0
    m["trace.coverage"] = sum(s.seconds for s in chain) / traced_s
    return m


def summary(wl, record: dict, trace_on: bool) -> None:
    ops = record["ops"]
    failed = sum(1 for op in ops if op["problems"])
    host = record["host"]
    log(f"host: nproc={host['nproc']} mem_total_mb={host['mem_total_mb']} "
        f"spark={host['spark']} python={host['python']}")
    log(f"config: cores={host['cores']} shuffle_partitions={host['shuffle_partitions']} "
        f"arrow_batch={host['arrow_batch']} driver_memory={host['driver_memory']} "
        f"effective_cores={record['calibration_before']['effective_cores']:.2f}")
    inp = record["inputs"]
    log(f"inputs: {wl.name} seed={inp['seed']} rows={inp['rows']} digest={inp['digest']} "
        f"pinned={inp['pinned']}")
    for op in ops:
        for p in op["problems"]:
            log(f"FAILED CHECK: {p}")
    for op in ops:
        quality = {k: v for k, v in op.items() if k not in ("wall_s", "problems")}
        if quality:
            log(f"output: {json.dumps(quality)}")
    first = ops[0]
    if not trace_on:
        m = record["metrics"]
        log(f"{wl.name}: setup_s={m['setup_s']:.4f} s (cpu; wall {m['setup_wall_s']:.4f} s)  "
            f"run_s={m['run_s']:.4f} s  "
            f"pages_per_s={m['pages_per_s']:.2f} pages/s  cpu_s={m['cpu_s']:.2f} s  "
            f"pair_f1={first.get('pair_f1', float('nan')):.4f} ratio  "
            f"peak_rss_mb={m['peak_rss_mb']:.1f} MB  "
            f"failed_frac={failed / len(ops):.4f} ratio  ops={len(ops)}"
            + (f"  resume_s={median(op['resume_s'] for op in ops):.4f} s" if "resume_s" in first else ""))
    else:
        for k, v in record["metrics"].items():
            log(f"{k} = {v:.6g} {PER_LAYER_UNITS[k]}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [d for d in ("dedupe_spark/pipeline.py", "jobs/submit_pipeline.py",
                           "jobs/link_records.py") if not os.path.exists(os.path.join(ROOT, d))]
    if missing:
        print(f"perfbench: not inside a dedupe_spark checkout (missing {missing})", file=sys.stderr)
        return 2
    prepare_environment()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    sessions = Sessions(cores=len(os.sched_getaffinity(0)))
    try:
        record = (trace if args.trace else measure)(args, wl, sessions)
        record["ops"][0]["problems"] += record["inputs"]["problems"]
    finally:
        sessions.stop(jvm=True)
    record["calibration_after"] = calibrate(sessions.cores)
    record |= {"workload": wl.name, "seed": args.seed, "trace": args.trace,
               "seconds": args.seconds, "code": code_digest()}
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(os.path.join(STATE, "results",
                           f"{wl.name}-s{args.seed}-t{args.trace}-{int(time.time())}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    summary(wl, record, bool(args.trace))
    failed = sum(1 for op in record["ops"] if op["problems"])
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    result = {
        "correct": failed == 0 and bool(record["metrics"]),
        "attempted": len(record["ops"]),
        "failed": failed,
        "metrics": {k: {"value": record["metrics"].get(k, 0.0), "unit": u}
                    for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
