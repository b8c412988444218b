"""Seeded end-to-end benchmark of the rust_s2_spark package.

    python3 perfbench/run.py --workload spatial_query --seed 17 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 17 --seconds 10 --trace 0

Run from the root of a checkout. One process, one Spark session at
local[N] with N the CPUs this process may use. The workload makes its
seeded inputs and sets up (session start, three set-up passes of
stored table and stats, the workload's warm-up requests),
runs a closed loop with one client for ``--seconds`` and at least one
request of every kind, stops the session, checks every op's output
against an independent computation, and prints one line per metric
followed by a final JSON line.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` reports its per-layer metrics, from spans around every
layer call and the Spark event log. Layers a workload never calls
report 0. The run record (metrics, contention, input digest, spans) is
written under ``.perfbench_runs/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_PASSES = 3
OP_TIMEOUT_S = 60.0  # an op slower than this counts as failed
CONTENDED_STEAL_PCT = 2.0

SPARK_LAYERS = [
    "functions", "sources", "operators.covering_join", "operators.pip",
    "operators.polyline", "operators.knn", "streaming", "operators.dedup", "plans",
]
PER_CALL = ["jobs", "task_s", "driver_s", "self_s", "spill_bytes"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def read_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError):
        return 0, 0


def tree_pids(root_pid: int) -> list[int]:
    """This process and every descendant alive now: the Spark JVM and
    its Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    todo, seen = [root_pid], []
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.append(pid)
            todo.extend(children.get(pid, []))
    return seen


def pss_kb(pid: int) -> int:
    """Proportional set size: private pages plus each shared page
    divided by the number of processes mapping it, so pages the forked
    Python workers share are counted once over the tree."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_ticks(pid: int) -> tuple[int, int] | None:
    """(start time, user + system CPU) of ``pid``, both in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[19]), int(fields[11]) + int(fields[12])
    except (OSError, ValueError, IndexError):
        return None


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class TreeSampler(threading.Thread):
    """Samples the process tree every ``period`` s: keeps the largest
    summed Pss, the peak physical memory of the run, and the CPU time
    of every process seen, so that a Python worker that exits between
    two reads keeps the CPU time it had at its last sample."""

    def __init__(self, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self.at_peak: dict[str, int] = {}  # MB per process at the peak
        self.ticks: dict[tuple[int, int], int] = {}  # (pid, start) -> CPU ticks
        self.samples = 0
        self._lock = threading.Lock()
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            self.sample()
            self._done.wait(self.period)

    def sample(self) -> None:
        with self._lock:
            pids = tree_pids(os.getpid())
            kb = {p: pss_kb(p) for p in pids}
            if sum(kb.values()) > self.peak_kb:
                self.peak_kb = sum(kb.values())
                self.at_peak = {f"{comm(p)}-{p}": round(v / 1024) for p, v in kb.items()}
            for p in pids:
                t = cpu_ticks(p)
                if t is not None:
                    self.ticks[(p, t[0])] = t[1]
            self.samples += 1

    def cpu_s(self) -> float:
        """CPU seconds the process tree has used so far."""
        self.sample()
        with self._lock:
            return sum(self.ticks.values()) / os.sysconf("SC_CLK_TCK")

    def stop(self) -> float:
        """Stop sampling, take a last sample and return the peak in MB."""
        self._done.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0


def driver_memory() -> str:
    """A quarter of this machine's memory, at most 1 GiB. The JVM holds
    at most tens of MB of data here; with a 2 GiB ceiling the heap size
    G1 chose moved the JVM's memory by up to 500 MB between runs of the
    same inputs, and call times were the same."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(f.readline().split()[1])
    except (OSError, ValueError, IndexError):
        total_kb = 8 << 20
    return f"{min(1024, total_kb // 4096)}m"


def make_session(work: str, cores: int, trace: bool):
    from pyspark.sql import SparkSession

    mem = driver_memory()
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", mem)
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
    )
    if trace:
        os.makedirs(f"{work}/eventlog")
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{work}/eventlog")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def cached_mb(spark) -> float:
    """Memory and disk held by persisted RDDs and checkpoint blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def quantile_tail(xs: list[float]):
    """(value, percentile) of the highest percentile with at least ten
    samples above it, or None with fewer than eleven samples."""
    if len(xs) < 11:
        return None
    s = sorted(xs)
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import rust_s2_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the rust_s2_spark package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import inputs as gen
    import workloads as wls

    if args.workload == "all":
        # every workload in turn, each in its own process and session
        rc = 0
        for name in wls.WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seconds", str(args.seconds), "--trace", str(args.trace)]
            if args.seed is not None:
                cmd += ["--seed", str(args.seed)]
            rc = max(rc, subprocess.call(cmd))
        return rc
    if args.workload not in wls.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wls.WORKLOADS)} or all", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seed = gen.DEFAULT_SEED if args.seed is None else args.seed
    run_id = f"{args.workload}-s{seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    records = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.makedirs(records, exist_ok=True)
    # every file Spark, the JVMs and the Python workers write stays in the checkout
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    try:
        return run(args, spec, seed, run_id, work, records)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec: dict, seed: int, run_id: str, work: str, records: str) -> int:
    import inputs as gen
    import spans as sp
    import workloads as wls

    cores = len(os.sched_getaffinity(0))
    steal0, ticks0 = read_steal()
    load0 = os.getloadavg()[0]
    trace = bool(args.trace)

    spark = None
    wl = None
    tree = None
    ops: list[dict] = []  # every op attempted: warm-up, measured, layer pass
    info: dict = {}
    extras: dict = {}
    try:
        spark = make_session(work, cores, trace)
        session_s = time.perf_counter() - T_PROCESS
        tree = TreeSampler()
        tree.start()
        session_cpu = tree.cpu_s()
        info["session_start_s"] = session_s
        tracer = sp.Tracer(spark, run_id, trace)
        digest = gen.Digest()
        ctx = wls.Ctx(spark, work, seed, tracer, digest)
        wl = wls.WORKLOADS[args.workload](ctx)

        def attempt(i: int, phase: str, like: int | None = None) -> dict:
            """Op ``i``; with ``like``, on the same inputs as op ``like``."""
            j = i if like is None else like
            op = {"i": i, "kind": wl.kind(j), "phase": phase}
            try:
                op["prep"] = wl.prepare(i, j)
                cpu0 = tree.cpu_s()
                t0 = time.perf_counter()
                op["out"], op["items"] = wl.run(i, op["prep"])
                op["s"] = time.perf_counter() - t0
                op["cpu_s"] = tree.cpu_s() - cpu0
                if op["s"] > OP_TIMEOUT_S:
                    op["error"] = f"timed out: {op['s']:.1f} s > {OP_TIMEOUT_S} s"
            except Exception:
                op["error"] = traceback.format_exc()
                print(f"op {i} ({op['kind']}) raised:\n{op['error']}", file=sys.stderr)
            ops.append(op)
            return op

        t = time.perf_counter()
        wl.generate()
        info["generate_s"] = time.perf_counter() - t
        passes, pass_cpu = [], []
        for p in range(SETUP_PASSES):
            t, c = time.perf_counter(), tree.cpu_s()
            wl.setup(p)
            passes.append(time.perf_counter() - t)
            pass_cpu.append(tree.cpu_s() - c)
        t, c = time.perf_counter(), tree.cpu_s()
        wl.start()
        # warm-up and measured loop run untraced. A traced run measures
        # pairs instead: each pair runs one op twice on the same inputs,
        # untraced and traced, and the difference between the two is
        # the tracing overhead. Successive pairs alternate which of the
        # two runs first, so that the second run being faster cancels
        # out; a workload of one kind gets two pairs. The two halves of
        # a pair must both be warm, so a traced run warms every kind
        # once even where an untraced run does not
        tracer.enabled = False
        wl.warmed_ops = max(wl.warmup_ops, len(wl.kinds)) if trace else wl.warmup_ops
        i = 0
        for _ in range(wl.warmed_ops):
            attempt(i, "warmup")
            i += 1
        warmup_s, warmup_cpu = time.perf_counter() - t, tree.cpu_s() - c
        info.update(setup_pass_s=passes, warmup_s=warmup_s, session_cpu_s=session_cpu,
                    setup_pass_cpu_s=pass_cpu, warmup_cpu_s=warmup_cpu)
        info["setup_wall_s"] = session_s + statistics.median(passes) + warmup_s
        setup_s = session_cpu + statistics.median(pass_cpu) + warmup_cpu

        # closed loop, one client, until the deadline, at least one op
        # (one pair, traced) of every kind and the workload's minimum
        t = time.perf_counter()
        deadline = t + args.seconds
        first = i
        measured = []
        while True:
            if not trace:
                measured.append(attempt(i, "measure"))
                i += 1
            else:
                n = len(measured)
                for phase in ("bare", "layer") if n % 2 == 0 else ("layer", "bare"):
                    tracer.enabled = phase == "layer"
                    op = attempt(i, phase, like=first + n)
                    op["pair"] = n
                    i += 1
                    if phase == "bare":
                        measured.append(op)
            if time.perf_counter() >= deadline and len(measured) >= max(
                len(wl.kinds), wl.min_measured, 2 if trace else 1
            ):
                break
        info["measure_s"] = time.perf_counter() - t
        storage_mb = cached_mb(spark)
        if trace:
            tracer.enabled = True
            for e in range(len(wl.extra_kinds)):
                attempt(i, "extra", like=-1 - e)
                i += 1
            t = time.perf_counter()
            extras.update(wl.layer_extras())
            info["layer_extras_s"] = time.perf_counter() - t
            t = time.perf_counter()
            extras.update(wls.kernel_microbench(ctx))
            info["microbench_s"] = time.perf_counter() - t
        peak_rss_mb = tree.stop()
        info["rss_samples"] = tree.samples
        info["rss_mb_at_peak"] = tree.at_peak
    finally:
        t = time.perf_counter()
        if tree is not None and tree.is_alive():
            tree.stop()
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_session(spark)
        info["stop_s"] = time.perf_counter() - t

    steal1, ticks1 = read_steal()
    steal_pct = 100.0 * (steal1 - steal0) / max(1, ticks1 - ticks0)
    contention = {
        "steal_pct": steal_pct,
        "loadavg_start": load0,
        "loadavg_end": os.getloadavg()[0],
        "contended": steal_pct > CONTENDED_STEAL_PCT,
        "cores": cores,
    }

    # independent output checks, after the session is gone
    t = time.perf_counter()
    ops += [{"i": p, "kind": "set-up", "phase": "setup"} for p in range(len(wl.stored))]
    for op in ops:
        if "error" in op:
            continue
        try:
            if op["phase"] == "setup":
                wl.check_setup(op["i"])
            else:
                wl.check(op["i"], op["prep"], op["out"])
        except wls.CheckFailed as e:
            op["error"] = f"check failed: {e}"
            print(op["error"], file=sys.stderr)
        except Exception:  # a malformed output fails its check too
            op["error"] = f"check raised:\n{traceback.format_exc()}"
            print(op["error"], file=sys.stderr)
    failed = sum("error" in op for op in ops)
    info["check_s"] = time.perf_counter() - t
    info["wall_s"] = time.perf_counter() - T_PROCESS

    ok = [op for op in measured if "error" not in op]
    times = [op["s"] for op in ok]
    values: dict[str, float] = {}
    if not trace:
        if not ok:
            print("perfbench: no measured op succeeded", file=sys.stderr)
            return 1
        # per kind, so that a mix reads the same however many ops of
        # each kind fit in the window; with one kind these are the plain
        # closed-loop throughput and median
        kinds = sorted({op["kind"] for op in ok})
        per_kind = [[op for op in ok if op["kind"] == k] for k in kinds]
        items = sum(statistics.mean(op["items"] for op in g) for g in per_kind)
        values = {
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss_mb,
            "items_per_cpu_s": items / sum(
                statistics.mean(op["cpu_s"] for op in g) for g in per_kind),
        }
        info["items_per_s"] = items / sum(
            statistics.mean(op["s"] for op in g) for g in per_kind)
        info["op_s.p50"] = statistics.median(
            statistics.median(op["s"] for op in g) for g in per_kind)
        emit = spec["end_to_end"]
    else:
        jobs = sp.read_event_log(f"{work}/eventlog")
        sp.attribute(tracer.spans, jobs)
        values = layer_metrics(tracer.spans, extras, storage_mb, ops)
        unknown = set(values) - {m["name"] for m in spec["per_layer"]}
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        emit = spec["per_layer"]
        tracer.write(f"{records}/{run_id}.spans.json")

    tail = quantile_tail(times)
    print(f"workload {args.workload}  seed {seed}  input_digest {digest.hexdigest()}  "
          f"closed loop, 1 client, local[{cores}]")
    print(f"ops attempted {len(ops)}  measured {len(measured)}  failed {failed}  "
          f"failed_frac {failed / len(ops):.4f}")
    if tail:
        print(f"op_s.tail {tail[0]:.4f} s  (p{tail[1]:.1f} of {len(times)} ops)")
    else:
        print(f"op_s.tail undefined: {len(times)} measured ops, a tail needs 11")
    print("contention " + "  ".join(f"{k} {v}" for k, v in contention.items()))
    for k, v in info.items():
        print(f"{k} {v}")
    metrics = {}
    for m in emit:
        v = float(values.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']} = {v:.6g} {m['unit']}")
    record = {
        "workload": args.workload, "seed": seed, "trace": args.trace,
        "seconds": args.seconds, "input_digest": digest.hexdigest(),
        "contention": contention, "info": info, "metrics": metrics,
        "attempted": len(ops), "failed": failed,
        "op_s_tail": tail, "op_s": times,
        "ops": [[op["i"], op["phase"], op["kind"], op.get("s")] for op in ops],
        "errors": [op["error"] for op in ops if "error" in op],
    }
    with open(f"{records}/{run_id}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics,
    }), flush=True)
    return 0


def layer_metrics(spans: list[dict], extras: dict, storage_mb: float, ops: list[dict]) -> dict:
    """Per-layer numbers from attributed spans: per-call means for every
    Spark layer, and the named layer metrics of BENCHMARK.json."""
    m: dict[str, float] = {"storage.cached_mb_end": storage_mb}
    for layer in SPARK_LAYERS:
        ss = [s for s in spans if s["layer"] == layer]
        if ss:
            for g in PER_CALL:
                m[f"{layer}.{g}"] = statistics.mean(s[g] for s in ss)
            m[f"{layer}.failed_tasks"] = sum(s["failed_tasks"] for s in ss)

    def calls(layer, call=None):
        return [s for s in spans if s["layer"] == layer and (call is None or s["call"] == call)]

    def p50(name, layer, call):
        ss = calls(layer, call)
        if ss:
            m[name] = statistics.median(s["wall_s"] for s in ss)

    for call in ("region_join", "region_join_ancestors", "region_anti_join",
                 "within_distance_join_df"):
        p50(f"operators.covering_join.{call}_s.p50", "operators.covering_join", call)
    p50("operators.pip.pip_filter_s.p50", "operators.pip", "pip_filter")
    p50("operators.polyline.near_polyline_s.p50", "operators.polyline", "near_polyline")
    p50("operators.knn.knn_join_df_s.p50", "operators.knn", "knn_join_df")
    p50("sources.encode_write_s.p50", "sources", "encode_write")
    p50("plans.build_cell_stats_s", "plans", "build_cell_stats")

    contain = calls("operators.covering_join", "region_join") + calls(
        "operators.covering_join", "region_join_ancestors")
    if contain:
        m["operators.covering_join.rows_read_per_match"] = sum(
            s["records_read"] for s in contain) / max(1, sum(s["matches"] for s in contain))
    knn = calls("operators.knn", "knn_join_df")
    if knn:
        m["operators.knn.jobs_per_call"] = statistics.mean(s["jobs"] for s in knn)
        m["operators.knn.shuffle_bytes_per_probe"] = sum(
            s["shuffle_bytes"] for s in knn) / sum(s["probes"] for s in knn)
    batches = calls("streaming", "stream_knn")
    if batches:
        m["streaming.jobs_per_batch"] = statistics.mean(s["jobs"] for s in batches)
    votes = calls("operators.dedup", "ensemble_dedup_vote")
    if votes:
        m["operators.dedup.candidate_pairs"] = statistics.mean(s["candidates"] for s in votes)
        m["operators.dedup.keep_frac"] = sum(s["kept"] for s in votes) / max(
            1, sum(s["candidates"] for s in votes))
        m["operators.dedup.shuffle_bytes"] = statistics.mean(s["shuffle_bytes"] for s in votes)
    # the Arrow crossing's share of what the encode UDF adds to a query:
    # (null UDF - no UDF) / (encode UDF - no UDF), in task time
    task = {call: [s["task_s"] for s in spans if s["call"] == call]
            for call in ("no_udf", "null_udf", "s2_cell_from_latlng")}
    if all(task.values()):
        plain, null, enc = (statistics.median(v) for v in task.values())
        if enc > plain:
            m["functions.arrow_crossing_frac"] = (null - plain) / (enc - plain)

    # tracing overhead: geometric mean over the pairs of each traced
    # op's time over its untraced twin's
    pairs: dict[int, dict] = {}
    for op in ops:
        if "pair" in op and "s" in op:
            pairs.setdefault(op["pair"], {})[op["phase"]] = op["s"]
    logs = [math.log(p["layer"] / p["bare"]) for p in pairs.values() if len(p) == 2]
    if logs:
        m["trace.overhead_frac"] = math.exp(statistics.mean(logs)) - 1.0
    m.update(extras)
    return m


if __name__ == "__main__":
    sys.exit(main())
