#!/usr/bin/env python3
"""Benchmark entry point. Run it from the repository root:

    python3 perfbench/run.py --workload noise_join --seed 1 --seconds 10 --trace 0

One run starts a single local Spark JVM with a pinned shape, generates
the workload's inputs from the seed into a fresh directory under
``.perfbench_runs/``, warms the engine up (checking the first
iteration's output on a slice of the inputs against the repo's DuckDB
oracle twins), then times whole iterations for ``--seconds`` seconds,
checking every iteration's output outside the timed region. Progress
goes to stderr; the last line of stdout is one JSON object
``{correct, attempted, failed, metrics}``.

``--trace 0`` reports the end-to-end metrics declared in BENCHMARK.json.
``--trace 1`` instead runs one untraced iteration and one traced pass
that materialises each layer's output in turn, reports the per-layer
metrics, and writes the spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from hope_graph_builder_spark.session import get_spark  # noqa: E402  (needs the package)
from perfbench.inputs import tree_bytes  # noqa: E402
from perfbench.trace import RssSampler, SparkStats, Tracer, log, process_tree  # noqa: E402
from perfbench.workloads import WORKLOADS, remove  # noqa: E402

SETUP_REPS = 3  # input generation + load repeats; setup_s takes the median
MAX_CPUS = 4
HEAP_SHARE = 0.25  # driver heap as a share of the memory the container may use


def host_memory_bytes() -> int:
    with open("/proc/meminfo") as f:
        total = int(next(line for line in f if line.startswith("MemTotal")).split()[1]) * 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            total = min(total, int(raw))
    except OSError:
        pass
    return total


def pin_environment(run_dir: str) -> int:
    """One JVM on local[N], heap sized to the host, quiet logs, workers
    able to import the package; every other engine knob at its default.
    Returns N."""
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))
    heap_gb = max(2, min(4, int(host_memory_bytes() * HEAP_SHARE / 2**30)))
    for k in list(os.environ):
        if k.startswith(("SPARK_GRAFT_", "HGBS_")):
            del os.environ[k]
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_EXECUTORS": "",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_GRAFT_LOCAL_DIR": f"{run_dir}/spark-local",
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": f"{run_dir}/tmp",
    })
    return cpus


def start_session(run_dir: str, cpus: int):
    spark = get_spark(
        app="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the heap starts at its full size, so resident memory does
            # not depend on when the collector chose to grow it; temp files
            # stay in the run dir, and no perf-data file goes to /tmp
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Djava.io.tmpdir={run_dir}/tmp"
                " -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until it and every process it
    forked (the Python workers) have exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = [p for p in process_tree(proc.pid) if p != proc.pid]
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}"):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited; its new parent has not reaped it yet
            except OSError:
                break


class Runner:
    def __init__(self, spark, wl, run_dir: str, cpus: int):
        self.spark, self.wl, self.run_dir, self.cpus = spark, wl, run_dir, cpus
        self.stats = SparkStats(spark.sparkContext, cpus)
        self.ref = self.inp = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def setup(self, seed: int, reps: int):
        """Generate and load the inputs ``reps`` times into fresh
        directories; keeps the last copy, returns it and the times."""
        times, inp = [], None
        for r in range(reps):
            if inp is not None:
                remove(inp.dir)
            t0 = time.perf_counter()
            inp = self.wl.generate(seed, f"{self.run_dir}/inputs{r}")
            d = self.wl.open(self.spark, inp)
            loaded = next(iter(d.values())).count()
            times.append(time.perf_counter() - t0)
            if loaded != inp.rows:
                raise RuntimeError(f"loaded {loaded} rows, generated {inp.rows}")
        self.wl.expect(inp)
        self.inp = inp
        return inp, d, times

    def run_once(self, d: dict, tag: str, check: bool = True,
                 slices: dict | None = None) -> tuple[float, dict | None]:
        """One whole iteration, timed; its checks run after the clock
        stops. Returns (wall, info) — info is None when it failed."""
        scratch = f"{self.run_dir}/{tag}"
        sc = self.spark.sparkContext
        sc.setJobGroup(tag, tag)
        t0 = time.perf_counter()
        try:
            dg, info = self.wl.iteration(self.spark, d, scratch, slices)
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            errs = self.wl.check(self.spark, d, self.inp, info) if check else []
            if self.ref is None:
                self.ref = dg
            elif dg != self.ref:
                errs.append(f"output digest {dg} differs from the first iteration's {self.ref}")
            info["digest"], info["written_bytes"] = dg, tree_bytes(scratch)
        except Exception:  # an engine failure counts against the run
            wall, errs = time.perf_counter() - t0, [traceback.format_exc(limit=3)]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            remove(scratch)
        for e in errs:
            log(f"{tag}: FAILED: {e}")
        self.errors += errs
        return wall, (None if errs else info)

    def warm_up(self, d: dict) -> None:
        """The workload's untimed whole iterations. The first fixes the
        reference digest every later iteration must reproduce, and its
        output on the oracle slice is compared with the DuckDB twins,
        which need no Spark and compute beside it."""
        slices = self.inp.slices or None
        with ThreadPoolExecutor(1) as pool:
            twin = pool.submit(self.wl.twin, self.inp) if slices else None
            for k in range(self.wl.warmups):
                # only the digest: a timed iteration that reproduces it is
                # checked in full
                wall, info = self.run_once(d, f"warm{k}", check=False, slices=slices if k == 0 else None)
                log(f"warm-up {k}: {wall:.2f} s")
                if k == 0 and twin is not None:
                    # the oracle-checked iteration counts as attempted
                    self.attempted += 1
                    if info is None or not self.gate(info["slice"], twin):
                        self.failed += 1

    def gate(self, got: dict, twin) -> bool:
        try:
            errs = self.wl.oracle(self.inp, got, twin.result())
        except Exception:
            errs = [traceback.format_exc(limit=3)]
        for e in errs:
            log(f"oracle slice: FAILED: {e}")
        self.errors += errs
        log(f"oracle slice check: {'ok' if not errs else 'MISMATCH'}")
        return not errs

    def timed(self, d: dict, seconds: float) -> tuple[list[float], dict]:
        walls, spent, last = [], 0.0, None
        while not walls or spent + 0.5 * walls[-1] < seconds:
            self.attempted += 1
            tag = f"it{self.attempted}"
            wall, info = self.run_once(d, tag)
            spent += wall
            if info is None:
                self.failed += 1
                if self.failed >= 3:
                    break
                continue
            walls.append(wall)
            last = (tag, info)
            log(f"timed iteration {self.attempted}: {wall:.3f} s")
        return walls, ({} if last is None else {"tag": last[0], **last[1]})


def declared_metrics(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run(args, run_dir: str, cpus: int) -> tuple[Runner, dict]:
    wl = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    spark = start_session(run_dir, cpus)
    session_s = time.perf_counter() - t0
    log(f"session {session_s:.2f} s on local[{cpus}], heap {os.environ['SPARK_GRAFT_DRIVER_MEM']}")
    try:
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            r = Runner(spark, wl, run_dir, cpus)
            inp, d, gen = r.setup(args.seed, 1 if args.trace else SETUP_REPS)
            log(f"inputs: {inp.rows} rows, {inp.payload_bytes} B, expected {inp.expected}; "
                f"setup reps {[round(g, 3) for g in gen]}")
            r.warm_up(d)
            if args.trace:
                metrics = traced(r, d, args)
            else:
                walls, last = r.timed(d, args.seconds)
                shuffle = 0
                if last:
                    shuffle = r.stats.for_groups([last["tag"]], 1.0)["spark.shuffle_write_bytes"]
                metrics = {
                    "rows_per_s": inp.rows / statistics.median(walls) if walls else 0.0,
                    "setup_s": session_s + statistics.median(gen),
                    "peak_rss_mb": rss.peak_kb / 1024.0,
                    "write_amp": (last.get("written_bytes", 0) + shuffle) / inp.payload_bytes,
                }
                log(f"iteration walls {[round(w, 3) for w in walls]}")
        return r, metrics
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        log(f"session stopped in {time.perf_counter() - t0:.2f} s")


def traced(r: Runner, d: dict, args) -> dict:
    """One untraced iteration, then the traced pass over the same input;
    the difference of their walls is the tracing overhead."""
    r.attempted += 1
    untraced, info = r.run_once(d, "untraced")
    if info is None:
        r.failed += 1
    sc = r.spark.sparkContext
    tr = Tracer(sc, "trace")
    scratch = f"{r.run_dir}/traced"
    r.attempted += 1
    layer: dict = {}
    try:
        with tr.span(f"{args.workload}.traced") as root:
            dg, layer = r.wl.traced(r.spark, d, tr, scratch)
        if dg != r.ref:
            raise RuntimeError(f"traced output digest {dg} differs from the untraced {r.ref}")
    except Exception:
        r.failed += 1
        r.errors.append(traceback.format_exc(limit=3))
        log(f"traced pass: FAILED: {r.errors[-1]}")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        remove(scratch)
    engine = r.stats.for_groups(tr.groups(root), root.wall)
    metrics = {name: 0.0 for name in declared_metrics(True)}
    metrics.update(layer)
    metrics.update(engine)
    metrics.update({
        "trace.untraced_wall_s": untraced,
        "trace.traced_wall_s": root.wall,
        "trace.overhead_s": root.wall - untraced,
        "fail_ratio": r.failed / r.attempted,
    })
    out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-s{args.seed}.json")
    tr.dump(out, r.stats, {"workload": args.workload, "seed": args.seed, "metrics": metrics})
    log(f"spans written to {out}")
    for s in tr.spans:
        log(f"  span {s.name:40s} wall {s.wall:8.3f} s  self {s.self_time:8.3f} s")
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    # a terminated run still stops Spark and deletes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    units = declared_metrics(bool(args.trace))
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    cpus = pin_environment(run_dir)
    try:
        r, metrics = run(args, run_dir, cpus)
    finally:
        remove(run_dir)
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    result = {
        "correct": not r.errors,
        "attempted": max(r.attempted, 1),
        "failed": r.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    code = main()
    # Spark and its processes are already stopped; leave without running
    # interpreter exit hooks, which could print after the result line
    os._exit(code)
