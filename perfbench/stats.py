"""Pure helpers of the benchmark: robust statistics, output checks and
host readings. Nothing here imports pyspark, so the tests run without
a JVM."""

from __future__ import annotations

import concurrent.futures as cf
import hashlib
import os
import statistics
import time
from collections import Counter
from collections.abc import Iterable


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median — the steadiness
    figure the benchmark is judged by (``statistics.quantiles`` with
    n=4, its default exclusive method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def contingency_f1(labels: Iterable[tuple[object, object]]) -> dict[str, float]:
    """Pairwise precision/recall/F1 of a clustering against planted truth
    from (cluster, truth) labels, one per record.

    Counted from the cluster × truth contingency cells n_ij: true
    positives are sum C(n_ij, 2), predicted pairs sum C(a_i, 2) over
    cluster sizes, true pairs sum C(b_j, 2) over truth sizes — no pair
    is ever materialised. Empty denominators read as 1.0, as in
    ``dedupe_spark.evaluate.pairwise_f1``.
    """
    cells: Counter = Counter()
    for cluster, truth in labels:
        cells[(cluster, truth)] += 1
    rows: Counter = Counter()
    cols: Counter = Counter()
    for (cluster, truth), n in cells.items():
        rows[cluster] += n
        cols[truth] += n

    def pairs(counts: Iterable[int]) -> int:
        return sum(n * (n - 1) // 2 for n in counts)

    tp, predicted, true = pairs(cells.values()), pairs(rows.values()), pairs(cols.values())
    precision = tp / predicted if predicted else 1.0
    recall = tp / true if true else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"precision": precision, "recall": recall, "f1": f1, "tp": tp,
            "predicted_pairs": predicted, "true_pairs": true}


def partition_digest(assignments: Iterable[tuple[int, int]]) -> str:
    """Digest of a clustering that ignores how clusters are labelled:
    each record is relabelled with the smallest record id of its cluster,
    so two runs that group the same records agree whatever ids they
    chose."""
    pairs = list(assignments)
    canon: dict[int, int] = {}
    for rec, cluster in pairs:
        canon[cluster] = min(canon.get(cluster, rec), rec)
    h = hashlib.sha256()
    for rec, cluster in sorted(pairs):
        h.update(f"{rec}:{canon[cluster]}\n".encode())
    return h.hexdigest()[:16]


def rows_digest(rows: Iterable[tuple]) -> str:
    """Order-insensitive digest of table rows: each row's text form is
    hashed, and the sorted row hashes are hashed again."""
    h = hashlib.sha256()
    for row_hash in sorted(hashlib.sha256(repr(r).encode()).digest() for r in rows):
        h.update(row_hash)
    return h.hexdigest()[:16]


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s(pids: Iterable[int]) -> float:
    """CPU seconds (user + system) used so far by ``pids``, including
    the children each has already reaped."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by this process and its live descendants
    (the JVM and its Python workers), including descendants they have
    reaped. Differences of two readings give the CPU an operation cost,
    which other tenants of the host shift far less than its wall time."""
    return cpu_s(process_tree(root or os.getpid()))


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over this process and every live
    descendant: the driver interpreter, the JVM it launched and the
    Python workers the JVM forked. A sum of per-process peaks, so an
    upper bound on the simultaneous peak."""
    total_kb = 0
    for pid in process_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def process_start_epoch() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def calibrate(threads: int, mb_per_thread: int = 20) -> dict[str, float]:
    """sha256 throughput on one thread and on ``threads`` threads
    (hashlib releases the GIL), as host-health context for a result:
    their ratio is the number of cores the host really gave."""
    block = b"x" * 1_000_000

    def work(_i: int) -> int:
        h = b""
        for _ in range(mb_per_thread):
            h = hashlib.sha256(block + h).digest()
        return h[0]

    out = {}
    for n in (1, threads):
        with cf.ThreadPoolExecutor(n) as ex:
            t0 = time.perf_counter()
            list(ex.map(work, range(n)))
            out[f"sha256_{n}t_mbps"] = mb_per_thread * n / (time.perf_counter() - t0)
    out["effective_cores"] = out[f"sha256_{threads}t_mbps"] / out["sha256_1t_mbps"]
    return out
