"""Benchmark of the kg triple factory, end to end and per layer.

    python3 perfbench/run.py --workload kg_noisy_k1_ckpt --seed 1 \
        --seconds 6 --trace 0

Run from the repository root. The load is closed-loop: one driver
process runs one batch job at a time on ``local[nproc]``.

``--trace 0`` times whole pipeline iterations (read input → committed
parquet output) through the same calls ``kg/main.py`` and
``kg/corpus_main.py`` make, checks each output against the generated
truth, and reports the end-to-end metrics. ``--trace 1`` runs the
layers one at a time under Spark job groups with an event log on and
reports the per-layer metrics (see ``trace.py``).

Everything the run writes (input cache, outputs, Spark scratch, event
logs, trace artifacts) stays under ``.perfbench/`` in the checkout.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
The process exits 1 when any check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CPUS = len(os.sched_getaffinity(0))
#: driver heap: the inputs are small, and kg/session.py's 32g default
#: would reserve several times what a 4-core host has to spare
DRIVER_MEMORY = "3g"
#: session set-ups measured for setup_s (median reported)
SETUPS = 3
CLK_TCK = os.sysconf("SC_CLK_TCK")
#: ``_probe_kernel`` CPU time at the core speed ``ref-cpu-s`` count
#: at. Derived, not measured idle: on a host slowed ~2.1× (iteration
#: CPU time against the same iteration on the idle host) the kernel
#: read 0.8-0.9 ms during iterations
PROBE_REF_MS = 0.4

#: the end-to-end metrics of the result line
UNITS = {"rows_per_cpu_s": "rows/ref-cpu-s", "first_run_cpu_s": "ref-cpu-s",
         "setup_s": "s", "precision": "ratio", "recall": "ratio",
         "rss_p90_mb": "MB"}
#: printed in the table only: wall-clock figures, which follow the
#: host's load, and the failure share, which is 0 when all is well
INFO_UNITS = {"rows_per_s": "rows/s", "first_run_s": "s",
              "error_rate": "ratio"}


def _configure_env() -> None:
    """Process environment shared by the driver, the JVM it launches
    and the Python workers: one BLAS thread per worker, ``kg`` importable
    from the checkout, all scratch inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "KG_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} '
            f'-XX:-UsePerfData" pyspark-shell'),
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def proc_tree(root: int) -> dict[int, list[str]]:
    """``root`` and every live process under it: pid → the fields of
    ``/proc/<pid>/stat`` from the state field on."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # the process exited while we listed
        stats[int(d)] = fields
        children.setdefault(int(fields[1]), []).append(int(d))
    tree, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in stats:
            tree[p] = stats[p]
            todo += children.get(p, [])
    return tree


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) that
    ``root`` and every process under it have used so far. Time the
    hypervisor steals from the VM is not charged to a process, and a
    process waiting for a core is not charged either."""
    return sum(sum(int(x) for x in f[11:15])
               for f in proc_tree(root).values()) / CLK_TCK


class _Sampler:
    """A daemon thread that takes ``_sample()`` every ``interval``
    seconds into ``samples`` as (time, value). ``cpu_s`` is the CPU time
    the sampling has used, so that it can be left out of the
    iterations' CPU time."""

    def __init__(self, interval: float):
        self.interval = interval
        self.samples: list[tuple[float, float]] = []
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> float:
        raise NotImplementedError

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            t0 = time.thread_time()
            value = self._sample()
            self.samples.append((time.perf_counter(), value))
            self.cpu_s += time.thread_time() - t0

    def within(self, windows: list[tuple[float, float]]) -> list[float]:
        """The values sampled inside any of ``windows`` (perf counter
        seconds)."""
        return [v for t, v in self.samples
                if any(a <= t <= b for a, b in windows)]

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class RssSampler(_Sampler):
    """Resident memory (kB) of the driver JVM and every process under
    it (the Python daemon and its forked workers), from /proc.

    Each process counts its proportional set size (PSS), so pages the
    forked workers share with the daemon count once; summed RSS would
    count them once per worker, and the worker count varies with task
    scheduling."""

    def __init__(self, pid: int, interval: float = 0.5):
        super().__init__(interval)
        self.pid = pid

    def _sample(self) -> float:
        total = 0
        for p in proc_tree(self.pid):
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f
                                  if line.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                continue  # the process exited between the two reads
        return total

    def high_mb(self, windows: list[tuple[float, float]]) -> float:
        """90th percentile of the samples taken inside ``windows``, in
        MB: the memory a run stays under nine tenths of the time. The
        peak sample read between 1.7 and 2.6 GB across runs of one
        corpus seed."""
        kb = self.within(windows)
        if len(kb) < 2:
            return max(kb, default=0) / 1024
        return statistics.quantiles(kb, n=10)[-1] / 1024


def _probe_kernel() -> None:
    """A fixed piece of interpreter-bound work, under a millisecond."""
    d: dict[int, int] = {}
    for i in range(3000):
        d[i % 97] = d.get(i % 97, 0) + len(str(i))


class SpeedProbe(_Sampler):
    """The host's per-core speed while a run works: the CPU time of
    ``_probe_kernel``, every 50 ms.

    A co-tenant on the same physical cores slows every instruction,
    the program's and the kernel's alike; CPU time cannot see that, so
    an iteration's CPU time is scaled by how much slower than
    ``PROBE_REF_MS`` the kernel ran during it."""

    def __init__(self):
        super().__init__(0.05)

    def _sample(self) -> float:
        t0 = time.thread_time()
        _probe_kernel()
        return time.thread_time() - t0

    def slowdown(self, start: float, end: float) -> float:
        """Median kernel time between ``start`` and ``end`` over
        ``PROBE_REF_MS``; 1 with no sample."""
        xs = self.within([(start, end)])
        return statistics.median(xs) * 1e3 / PROBE_REF_MS if xs else 1.0


def session(extra_conf: dict | None = None):
    """``get_spark`` as the pipeline entry points call it; the first
    call in a process launches the JVM."""
    from kg.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false", **(extra_conf or {})}
    return get_spark(app_name="kg-perfbench", extra_conf=conf)


def setup_session(extra_conf: dict | None = None):
    """Session set-up as a job pays it: build the session, broadcast
    the weights, start one Python worker per core. Returns (spark,
    weights broadcast, {step: seconds})."""
    from kg.stages import score

    t0 = time.perf_counter()
    spark = session(extra_conf)
    t1 = time.perf_counter()
    bc = score.broadcast_weights(spark)
    t2 = time.perf_counter()
    (spark.range(CPUS, numPartitions=CPUS)
     .mapInPandas(lambda it: it, "id long").collect())
    t3 = time.perf_counter()
    return spark, bc, {"session.start_s": t1 - t0,
                       "score.broadcast_s": t2 - t1,
                       "session.worker_warm_s": t3 - t2}


def shutdown() -> None:
    """Stop the active session, then the JVM, and wait for it to exit.
    Safe to call when nothing is running."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    return path


def timed_iterations(w, seconds: float) -> int:
    """How many timed iterations a run of ``seconds`` makes: fixed by
    the arguments, not by the host's speed, so every run times the
    same iterations of its session however loaded the host is."""
    return max(1, round(seconds / w.iteration_s))


def run_untraced(w, seed: int, seconds: float) -> dict:
    """End-to-end run: JVM launch, ``SETUPS`` measured session set-ups,
    first iteration in the last one's session, then
    ``timed_iterations(w, seconds)`` timed iterations."""
    from perfbench import gen, workloads

    phases = {"start": time.perf_counter()}
    # launch the JVM, then measure SETUPS session set-ups on it; the
    # last one's session is the fresh session the iterations run in
    spark = session()
    phases["jvm"] = time.perf_counter()
    setups = []
    for _ in range(SETUPS):
        spark.stop()
        spark, bc, parts = setup_session()
        setups.append(sum(parts.values()))
    phases["setups"] = time.perf_counter()
    in_path, truth = gen.materialize(os.path.join(WORK, "cache"), w.kind,
                                     seed, w.size)
    phases["inputs"] = time.perf_counter()
    n_rows = truth["rows"]
    failures, attempted, failed = [], 0, 0
    first_sum, quality = None, {"precision": 0.0, "recall": 0.0}

    rss = RssSampler(jvm_pid())
    probe = SpeedProbe()

    windows = []

    def iteration(i: int) -> tuple[float, float, float] | None:
        """(wall s, CPU s, slowdown) of one checked iteration; None if
        it failed."""
        nonlocal first_sum, quality, attempted, failed
        attempted += 1
        out_dir = fresh_dir("out")
        ckpt = fresh_dir("ckpt", f"i{i}")
        spark.catalog.clearCache()
        try:
            c0, s0 = tree_cpu_s(os.getpid()), rss.cpu_s + probe.cpu_s
            t0 = time.perf_counter()
            out = workloads.run_iteration(spark, bc, w, in_path, out_dir, ckpt)
            dt = time.perf_counter() - t0
            cpu = (tree_cpu_s(os.getpid()) - c0
                   - (rss.cpu_s + probe.cpu_s - s0))
            slow = probe.slowdown(t0, t0 + dt)
            windows.append((t0, t0 + dt))
            errs = workloads.manifest_errors(w, out, ckpt)
            csum = workloads.output_checksum(spark, w, out_dir)
            if first_sum is None:
                first_sum = csum
                quality = workloads.quality(spark, w, out_dir, truth)
                errs += quality["errors"]
                errs += workloads.vacuity_errors(w, out, truth)
            elif csum != first_sum:
                errs.append(f"iteration {i} checksum {csum} != {first_sum}")
        except Exception as e:  # a failed iteration is counted, not fatal
            errs = [f"iteration {i}: {type(e).__name__}: {e}"]
        shutil.rmtree(os.path.join(WORK, "ckpt"), ignore_errors=True)
        if errs:
            failures.extend(errs)
            failed += 1
            return None
        return dt, cpu, slow

    with rss, probe:
        first = iteration(0)
        timed = [t for t in (iteration(i) for i in range(
            1, 1 + timed_iterations(w, seconds))) if t is not None]
    done = [first] * (first is not None) + timed
    phases["iterations"] = time.perf_counter()
    shutdown()
    phases["shutdown"] = time.perf_counter()

    def ref_cpu(t) -> float:
        return t[1] / t[2]

    def rate(of) -> float:
        return n_rows / statistics.median(map(of, timed)) if timed else 0.0

    m = {
        "rows_per_cpu_s": rate(ref_cpu),
        "first_run_cpu_s": ref_cpu(first) if first else 0.0,
        "setup_s": statistics.median(setups),
        "precision": quality["precision"],
        "recall": quality["recall"],
        "rss_p90_mb": rss.high_mb(windows),
        "rows_per_s": rate(lambda t: t[0]),
        "first_run_s": first[0] if first else 0.0,
        "error_rate": failed / attempted,
    }
    context = {"workload": w.name, "seed": seed, "rows": n_rows,
               "cpus": CPUS,
               "wall_cpu_slowdown": [[round(x, 3) for x in t]
                                     for t in done],
               "rss_max_mb": round(max((k for _, k in rss.samples),
                                       default=0) / 1024),
               "setups_s": [round(t, 4) for t in setups],
               "phase_s": {b: round(phases[b] - phases[a], 2) for a, b in
                           zip(list(phases), list(phases)[1:])},
               "host": host_context()}
    return {"metrics": m, "failures": failures, "attempted": attempted,
            "failed": failed, "context": context}


def host_context() -> dict:
    """Load average and a fixed single-threaded matmul: context for
    reading a run's times, never part of a metric."""
    import numpy as np

    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    a = np.full((400, 400), 1.0 / 400)
    t0 = time.perf_counter()
    for _ in range(20):
        a = a @ a
    return {"loadavg": load,
            "calibration_s": round(time.perf_counter() - t0, 4)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kg", "pipeline.py")):
        print(f"no kg package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    _configure_env()
    from perfbench import workloads

    w = workloads.WORKLOADS.get(args.workload)
    if w is None:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    try:
        if args.trace:
            from perfbench import trace

            res = trace.run_traced(w, args.seed)
            units = trace.UNITS
        else:
            res = run_untraced(w, args.seed, args.seconds)
            units = {**UNITS, **INFO_UNITS}
    finally:
        shutdown()
    for f in res["failures"]:
        print(f"FAILED: {f}", file=sys.stderr)
    print(json.dumps(res["context"]), file=sys.stderr)
    # human-readable table, then the machine-readable result line
    for name, v in res["metrics"].items():
        print(f"{w.name:18s} {name:28s} {v:16.4f} {units[name]}")
    shown = {k: v for k, v in res["metrics"].items()
             if k not in INFO_UNITS}
    print(json.dumps({
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in shown.items()}}))
    return 1 if res["failures"] else 0


if __name__ == "__main__":
    sys.exit(main())
