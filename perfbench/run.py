"""Benchmark of bela_spark's linkage job: batch linkage, fork-heavy exact
collapse, and incremental ingest.

    python3 perfbench/run.py --workload link_batch --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. One process is one run: it starts a
Spark session on ``local[nproc]``, writes the workload's inputs from the seed
under ``.perfbench_work/`` (removed at exit), warms up untimed, then runs
operations one at a time (a closed loop with one client) for about
``--seconds`` seconds and checks the output of every one.

Every metric is printed on stderr with its unit; the last line of stdout is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones: operations then alternate between traced
and untraced, and the traced ones feed the layer spans (written to
``.perfbench_out/``) and the Spark event log. See perfbench/NOTES.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs: steal is time the
    hypervisor gave to other guests, a source of run-to-run noise."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def driver_heap_mb() -> int:
    """A fifth of MemTotal, at most 4 GiB: the engine's 24g default does not
    fit a 15 GB box, and the inputs here are small."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // 5))


def proc_tree(root: int) -> list[int]:
    """``root`` and every live descendant: the driver JVM and its Python
    workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by the process tree, reaped children included, plus
    this driver process."""
    ticks = 0
    for pid in proc_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass
    t = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + t.user + t.system


class RssSampler(threading.Thread):
    """Summed RSS of the driver JVM and its Python workers, sampled every
    50 ms; ``window()`` gives the peak."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0
        self._done = threading.Event()

    def _tree_rss(self) -> int:
        total = 0
        for pid in proc_tree(self.pid):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._done.wait(0.05):
            self.peak = max(self.peak, self._tree_rss())

    @contextlib.contextmanager
    def window(self):
        self.peak = self._tree_rss()
        yield
        self.peak = max(self.peak, self._tree_rss())

    def stop(self) -> None:
        self._done.set()
        self.join()


def start_session(work: str, nproc: int, trace: bool):
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    # the Python workers import bela_spark too; sys.path reaches only this process
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["BELA_SPARK_DRIVER_MEM"] = f"{driver_heap_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher too: temp files in the run's
    # directory, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    from bela_spark.session import get_spark

    return get_spark(app_name="perfbench", master=f"local[{nproc}]",
                     shuffle_partitions=nproc, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait until the driver JVM (and with it every Python
    worker) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def program_hash() -> str:
    """Of the engine and benchmark sources: expected funnels are only
    compared between runs of the same code."""
    h = hashlib.sha256()
    for top in ("bela_spark", "perfbench"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


class Expected:
    """Funnel counts and f1 per (workload, seed, code): every operation of
    every run of one seed must reproduce them exactly."""

    def __init__(self, key: str):
        self.path = os.path.join(OUT_DIR, "expected_funnels.json")
        self.key = key
        self.all = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.all = json.load(f)

    def check(self, funnel: dict) -> None:
        from perfbench.workloads import CheckFailed

        want = self.all.setdefault(self.key, funnel)
        if want != funnel:
            raise CheckFailed(f"funnel {funnel} != expected {want}")
        with open(self.path, "w") as f:
            json.dump(self.all, f, indent=1, sort_keys=True)


def run_operations(spark, wl, seconds: float, expected: Expected, tracer=None, rss=None):
    """The closed loop: one operation at a time, each checked, until the
    next one would end past ``seconds``. When traced, operations alternate
    untraced / traced. Returns (ops, attempted, failed)."""
    from pyspark import SparkContext

    from perfbench.workloads import CheckFailed

    jvm = SparkContext._gateway.proc.pid

    ops, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + seconds
    min_ops = 2 if tracer else 1
    while True:
        t_cycle = time.perf_counter()
        traced = bool(tracer) and attempted % 2 == 1
        attempted += 1
        try:
            with rss.window() if rss else contextlib.nullcontext():
                c0, t0 = tree_cpu_s(jvm), time.perf_counter()
                with tracer.operation(attempted) if traced else contextlib.nullcontext():
                    if tracer:
                        tracer.enabled = traced
                    res = wl.op(spark)
                op_s = time.perf_counter() - t0
                cpu_s = tree_cpu_s(jvm) - c0
            if tracer:
                tracer.enabled = False
            with tracer.measuring() if tracer else contextlib.nullcontext():
                outcome = wl.check(spark, res)
                expected.check(outcome.funnel)
                op = {"run": attempted, "traced": traced, "op_s": op_s, "cpu_s": cpu_s, "peak": rss.peak if rss else 0,
                      "batch_s": outcome.batch_s, "funnel": outcome.funnel}
                if traced and hasattr(wl, "labeled_pair_f1"):
                    op["pair_f1"] = wl.labeled_pair_f1(spark, res)
            ops.append(op)
            log(f"op {attempted}{' traced' if traced else ''}: {op_s:.3f} s, cpu {cpu_s:.3f} s, {outcome.funnel}")
        except CheckFailed as e:
            failed += 1
            log(f"op {attempted}: check failed: {e}")
        except Exception:  # the run goes on; the failure is counted
            failed += 1
            log(f"op {attempted}: failed\n{traceback.format_exc()}")
        finally:
            if tracer:
                tracer.enabled = False
                tracer.release()
            spark.catalog.clearCache()
        now = time.perf_counter()
        if attempted >= min_ops and now + (now - t_cycle) / 2 > deadline:
            return ops, attempted, failed


def end_to_end(wl, ops: list[dict]) -> dict[str, float]:
    if not ops:
        return {}
    op_s = statistics.median(o["op_s"] for o in ops)
    batches = [b for o in ops for b in o["batch_s"]] or [o["op_s"] for o in ops]
    log(f"batch_p50_s over {len(batches)} batches; {len(ops)} operations")
    return {
        "op_s": op_s,
        "items_per_s": wl.items / op_s,
        "batch_p50_s": statistics.median(batches),
        "f1": ops[0]["funnel"]["f1"],
    }


def per_layer(tracer, ops: list[dict], event_log: str) -> dict[str, float]:
    from perfbench.trace import layer_metrics, read_event_log

    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    values = layer_metrics(tracer.spans, read_event_log(event_log), [o["run"] for o in traced])
    if traced:
        values["trace.op_s"] = statistics.median(o["op_s"] for o in traced)
        f = traced[0]["funnel"]
        if "reps" in f:
            values["run_linkage.funnel.collapse_ratio"] = f["reps"] / f["records"]
            values["dedup_scored.funnel.dup_score_ratio"] = f["unique_pairs"] / f["scored_per_key"]
            values["accept_edges.funnel.accept_ratio"] = f["edges"] / f["unique_pairs"]
            values["accept_edges.scoring.pair_f1"] = statistics.median(o["pair_f1"] for o in traced)
    if plain:
        values["trace.untraced_op_s"] = statistics.median(o["op_s"] for o in plain)
        values["op.peak_rss_mb"] = statistics.median(o["peak"] for o in plain) / 2**20
        values["op.cpu_s"] = statistics.median(o["cpu_s"] for o in plain)
        if traced:
            values["trace.overhead_s"] = values["trace.op_s"] - values["trace.untraced_op_s"]
    return values


def bench(args, work: str, spec: dict) -> dict:
    from pyspark import SparkContext

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    nproc = os.cpu_count() or 1
    load_start = loadavg()
    wl = WORKLOADS[args.workload]()
    expected = Expected(f"{args.workload}:{args.seed}:{program_hash()}")
    spark = start_session(work, nproc, bool(args.trace))
    tracer = rss = None
    try:
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
            rss = RssSampler(SparkContext._gateway.proc.pid)
            rss.start()
        log(f"session started at {time.perf_counter() - T_START:.1f} s")
        wl.setup(spark, work, args.seed, files=2 * nproc)  # inputs and warm-up
        spark.catalog.clearCache()
        setup_s = time.perf_counter() - T_START
        steal0 = cpu_times()
        ops, attempted, failed = run_operations(spark, wl, args.seconds, expected, tracer, rss)
        steal1 = cpu_times()
    finally:
        if tracer:
            tracer.uninstall()
        if rss:
            rss.stop()
        stop_session(spark)
    log(f"cpu steal during the operations: {(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.1%}")
    log(f"loadavg start {load_start} end {loadavg()}")

    if args.trace:
        spans_path = os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.json")
        tracer.write(spans_path)
        log(f"spans: {spans_path}")
        values = per_layer(tracer, ops, os.path.join(work, "eventlog"))
        values |= {"host.loadavg_start": load_start, "host.loadavg_end": loadavg()}
        names = spec["per_layer"]
    else:
        values = end_to_end(wl, ops)
        values |= {"setup_s": setup_s, "ok_ratio": (attempted - failed) / attempted}
        names = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}
    for name, m in metrics.items():
        log(f"{name:48s} {m['value']:.6g} {m['unit']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "bela_spark", "__init__.py")):
        log("perfbench: run from the root of a bela_spark checkout (no bela_spark/ here)")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    os.makedirs(OUT_DIR, exist_ok=True)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = bench(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
