"""DAC benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload dac_report --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Inputs are generated from the seed (and
cached under ``.perfbench_work/inputs``); the program is set up, warmed up,
then timed for ``--seconds``; every output is checked. The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run times an untraced window and then
a traced one, to report the tracing overhead, and writes its spans to
``.perfbench_work/trace/``. Exits non-zero when any output is wrong.
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
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "1g"
#: sequential workloads time at least this many passes or cycles, so a
#: report pass longer than half the window still gives a median of two
MIN_PASSES = 2


def pin_environment() -> int:
    """Same settings on every side of a comparison; returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TZ": "UTC",
    })
    time.tzset()
    return cpus


def ship_package(run_dir: str) -> str:
    """Zip gdutils_spark so Python workers can import it (``addPyFile``)."""
    return shutil.make_archive(os.path.join(run_dir, "ship", "gdutils_spark"), "zip",
                               ROOT, "gdutils_spark")


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile; inf entries (failed requests) sort last."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 1)) - 1))]


def _run_check(check, out) -> str | None:
    """None when ``check(out)`` passes, else the error."""
    try:
        check(out)
    except Exception as e:  # noqa: BLE001 - report every wrong output
        return f"{type(e).__name__}: {e}"
    return None


class Bench:
    """Holds the session, the tracer and the records of one run."""

    def __init__(self, workload: str, seed: int, data: str, meta: dict, cpus: int):
        from spans import Tracer

        self.workload, self.seed, self.data, self.meta, self.cpus = workload, seed, data, meta, cpus
        self.work = os.path.join(WORK, "run", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.spark = None
        self.tracer = Tracer()
        self.ops: list[dict] = []
        self.iterations: list[dict] = []
        self.failures: list[str] = []
        self.defer_checks = False
        self.counters: dict[str, list] = {}
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- recording -------------------------------------------------------------

    def layer(self, name: str):
        return self.tracer.layer(name)

    def op(self, name, fn, check, scan_rows=False, attrs=None):
        """Time ``fn`` (one call into the program, forced to completion),
        then check its output outside the timed part. Inside an iteration
        of a workload with ``defer_checks``, the check waits until
        ``run_deferred_checks`` after the window."""
        err = out = None
        with self.tracer.op(name, self.spark, scan_rows=scan_rows) as sp:
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception:  # noqa: BLE001 - a failing call is a failed op
                err = traceback.format_exc(limit=3)
            dt = time.perf_counter() - t0
        for k, v in (attrs or {}).items():
            self.count(k, v)
        if sp is not None and "scan_rows" in sp.attrs:
            self.count("scan_rows", sp.attrs["scan_rows"])
        rec = {"name": name, "s": dt, "ok": True}
        with self._lock:
            self.ops.append(rec)
        pending = getattr(self._local, "pending", None)
        if err is None and check is not None:
            if pending is not None:
                pending.append((rec, check, out))
                return out
            with self.harness():
                err = _run_check(check, out)
        if err is not None:
            self._fail(rec, err)
            self._local.failed = True
        return out

    def _fail(self, rec: dict, err: str) -> None:
        with self._lock:
            rec["ok"] = False
            self.failures.append(f"{rec['name']}: {err}")
            print(f"FAILED {rec['name']}: {err}", file=sys.stderr)

    def run_deferred_checks(self) -> None:
        """Check the outputs whose checks waited until the window closed; a
        wrong output fails its op and its iteration."""
        for it in self.iterations:
            for rec, check, out in it.pop("pending", []):
                err = _run_check(check, out)
                if err is not None:
                    self._fail(rec, err)
                    it["ok"] = False

    @contextmanager
    def harness(self):
        """Benchmark-side work (expected results, checks, landing files) left
        out of iteration time and of the time requests are served in."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._local.harness = self.harness_s() + time.perf_counter() - t0

    def harness_s(self) -> float:
        """Harness time of the calling thread so far."""
        return getattr(self._local, "harness", 0.0)

    def count(self, name: str, value: float) -> None:
        """A count taken at a layer boundary (per-layer metrics)."""
        with self._lock:
            self.counters.setdefault(name, []).append(value)

    def call(self, layer, fn, check, op=None):
        """An op that is one layer call."""
        def body():
            with self.layer(layer):
                return fn()
        return self.op(op or layer, body, check)

    @contextmanager
    def iteration(self, name: str, trace: int):
        """One pass / request / cycle; its duration leaves out harness time."""
        self._local.failed = False
        self._local.pending = [] if self.defer_checks else None
        h0 = self.harness_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.iteration(name, trace):
                yield
        finally:
            dt = time.perf_counter() - t0 - (self.harness_s() - h0)
            rec = {"name": name, "trace": trace, "s": dt, "ok": not self._local.failed}
            if self._local.pending:
                rec["pending"] = self._local.pending
            self._local.pending = None
            with self._lock:
                self.iterations.append(rec)

    # -- session ---------------------------------------------------------------

    def setup(self, wl, zip_path: str) -> dict:
        """get_spark + registration + warm-up; returns the timings."""
        from gdutils_spark.session import get_spark

        t0, epoch0 = time.perf_counter(), time.time()
        self.spark = get_spark("perfbench")
        t1, epoch1 = time.perf_counter(), time.time()
        self.spark.sparkContext.addPyFile(zip_path)
        wl.register()
        t2 = time.perf_counter()
        with self.iteration("warmup", -1):
            wl.warmup()
        warmup = self.iterations[-1]["s"]
        return {"get_spark_s": t1 - t0, "register_s": t2 - t1, "warmup_s": warmup,
                "setup_s": t2 - t0 + warmup, "get_spark_at": (epoch0, epoch1)}

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- measurement -------------------------------------------------------------

    def measure(self, wl, seconds: float, first_trace: int) -> tuple[float, float, int, int]:
        """Run iterations for ``seconds``; returns (wall time, the time spent
        serving requests, first and last index into self.iterations). The
        serving time is the wall time less the mean harness time per client."""
        n0 = len(self.iterations)
        harness = []
        t0 = time.perf_counter()
        deadline = t0 + seconds

        def timed(body):
            def run():
                h0 = self.harness_s()
                body()
                with self._lock:
                    harness.append(self.harness_s() - h0)
            return run

        if hasattr(wl, "client_loop"):
            threads = [threading.Thread(
                target=timed(lambda k=k: wl.client_loop(k, deadline, first_trace)),
                name=f"client-{k}") for k in range(self.cpus)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        else:
            def passes():
                # at least MIN_PASSES; after that, start another pass or cycle
                # only when it should end in the window
                k, last = 0, 0.0
                while k < MIN_PASSES or time.perf_counter() + last <= deadline:
                    with self.iteration(f"{wl.name}.iteration", first_trace + k):
                        wl.iteration(k)
                    last = self.iterations[-1]["s"]
                    k += 1
            timed(passes)()
        wall = time.perf_counter() - t0
        return wall, wall - statistics.fmean(harness), n0, len(self.iterations)


def end_to_end(setups: list[dict], busy: float, iters: list[dict], peak_rss: int) -> dict:
    """A request is one iteration: a report pass, a dataset request or an
    ingest cycle. A failed iteration counts as infinitely slow; throughput
    counts correct requests over the time spent serving them."""
    lat = [i["s"] if i["ok"] else float("inf") for i in iters]
    good = sum(1 for i in iters if i["ok"])
    return {
        "setup_s": (statistics.median(s["setup_s"] for s in setups), "s"),
        "request_p50_ms": (pct(lat, 0.5) * 1000.0, "ms"),
        "request_p90_ms": (pct(lat, 0.9) * 1000.0, "ms"),
        "requests_per_s": (good / busy, "1/s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="DAC benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cpus = pin_environment()
    sys.path.insert(0, ROOT)
    import gdutils_spark  # noqa: F401 - fail early when the program is absent

    import gen
    import layers
    import workloads
    from spans import RssSampler, Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    data, meta = gen.ensure(args.seed, os.path.join(WORK, "inputs"))
    bench = Bench(args.workload, args.seed, data, meta, cpus)
    wl = workloads.WORKLOADS[args.workload](bench)
    zip_path = ship_package(bench.work)

    try:
        with RssSampler() as rss:
            setups = [bench.setup(wl, zip_path)]
            ops0 = len(bench.ops)
            wall, busy, n0, n1 = bench.measure(wl, args.seconds, 0)
            bench.run_deferred_checks()
            iters, ops = bench.iterations[n0:n1], bench.ops[ops0:]
            e2e = end_to_end(setups, busy, iters, rss.peak_bytes)
            metrics = e2e
            if args.trace:
                bench.tracer = Tracer(bench.spark, enabled=True)
                bench.tracer.record_setup(setups[0]["get_spark_at"])
                bench.counters.clear()
                _, _, t0, t1 = bench.measure(wl, args.seconds, 10**6)
                bench.run_deferred_checks()
                metrics = layers.per_layer(bench, setups, e2e, bench.iterations[t0:t1])
                bench.tracer.dump(os.path.join(
                    WORK, "trace", f"{args.workload}-seed{args.seed}.json"))
    finally:
        stop_program(bench)
        shutil.rmtree(bench.work, ignore_errors=True)

    attempted, failed = len(bench.ops), len(bench.failures)
    summary = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "driver_mem": DRIVER_MEM, "sizes": meta["sizes"], "profile_rows": meta["profile_rows"],
        "setups": setups, "timed_iterations": len(iters), "wall_s": wall, "busy_s": busy,
        "iterations_s": [round(i["s"], 3) for i in iters][:50],
        "op_p50_ms": {n: round(1000 * statistics.median(o["s"] for o in ops if o["name"] == n), 1)
                      for n in sorted({o["name"] for o in ops})},
        "error_rate": failed / max(attempted, 1), "failures": bench.failures[:20],
    }
    print(json.dumps(summary, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def stop_program(bench: Bench) -> None:
    """Stop Spark, the gateway JVM and the Python workers, and wait for them."""
    from pyspark import SparkContext

    from spans import descendants

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    bench.stop_spark()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - fall back to killing it
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in kids if _alive(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            os.kill(p, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


if __name__ == "__main__":
    sys.exit(main())
