"""Benchmark of the hgt2osm2_spark engine, one workload per run.

    python3 perfbench/run.py --workload tiles_pip --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout at local[nproc]. It generates the
seeded inputs, then sets up several times (Spark session, C kernels,
loading the inputs) and reports the generation time plus the median,
runs a warm-up request whose output it checks against independent
computations, then runs requests in a closed loop for --seconds and
checks their outputs after the timed window. The last line of standard
output is one JSON object: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics; --trace 1 runs
the requests with a span around every call into a layer and reports
the per-layer metrics. Everything it writes goes under .bench_build/
in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

T0 = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

#: set-ups per run; setup_s is input generation plus their median
SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "tiles_per_s": "tiles/s",
    "mcells_per_s": "Mcell/s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

_KERNEL_SPANS = (
    "kernels.codecs.decode", "kernels.marching.extract_segments",
    "kernels.stitch.stitch_tile_arrays",
    "kernels.postprocess.run_polylines_batch",
)
_MOSAIC = ("mosaic_fill", "mosaic_flow_accumulation", "mosaic_routed_flow")
_SPAN_METRIC = {
    "plans.pipeline.run_contour_pipeline": "plans.pipeline.call_s",
    "ops.ids.assign": "ops.ids.assign_s",
    "ops.spatial.pip_join": "ops.spatial.pip_s",
    "ops.contours.fused": "ops.contours.fused_s",
    **{f"ops.mosaic.{d}": f"ops.mosaic.{d}_s" for d in _MOSAIC},
}
_SPARK = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "python_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "task_max_over_median": "ratio",
}
PER_LAYER = {
    **{s + "_s": "s" for s in _KERNEL_SPANS},
    "kernels.marching.segments": "count",
    "kernels.postprocess.kept_ratio": "ratio",
    "kernels.cext_loaded": "count",
    "ops.contours.fused_s": "s",
    "ops.contours.udf_overhead_s": "s",
    "plans.pipeline.call_s": "s",
    "ops.ids.assign_s": "s",
    "ops.ids.nodes": "count",
    "sinks.osm_xml.tile_xml_s": "s",
    "sinks.osm_xml.write_s": "s",
    "sinks.osm_xml.bytes_out": "bytes",
    "ops.spatial.pip_s": "s",
    "ops.spatial.pip_candidates": "count",
    "ops.spatial.pip_hits": "count",
    "ops.spatial.pip_hit_ratio": "ratio",
    **{f"ops.mosaic.{d}{k}": u for d in _MOSAIC
       for k, u in (("_s", "s"), ("_jobs", "count"), ("_stages", "count"))},
    **{f"spark.{k}": u for k, u in _SPARK.items()},
    "trace.request_s": "s",
    "trace.overhead_s": "s",
    "error_rate": "ratio",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def percentile(xs: list[float], q: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Spark JVM's Python workers import the package from it."""
    tmp = os.path.join(BUILD, "tmp")
    for d in ("tmp", "spark-local", "out", "traces"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["XDG_CACHE_HOME"] = os.path.join(BUILD, "cache")  # C kernels
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_session(ncores: int):
    from hgt2osm2_spark.session import get_spark

    # A capped heap keeps peak_rss_mb steady. Under get_spark's 24g
    # default the JVM grows its heap as lazily as the collector allows,
    # and tiles_pip's peak RSS ranged over 2.3-3.8 GB across ten seeds
    # (quartile spread 0.26, over the metric's 0.25 bound). With 1g the
    # requests took the same time (back-to-back A/B, four seed pairs)
    # and the peak stayed within 1.86-1.93 GB.
    return get_spark(
        "perfbench", cores=ncores, shuffle_partitions=2 * ncores,
        driver_memory="1g",
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(BUILD, "warehouse"),
        },
    )


def load_kernels() -> dict[str, bool]:
    from hgt2osm2_spark.kernels import (
        marching_cext, postprocess_cext, stitch_cext, terrain_cext)

    return {m.__name__.rsplit(".", 1)[1]: m.available() for m in (
        marching_cext, stitch_cext, postprocess_cext, terrain_cext)}


def kernel_guard(loaded: dict[str, bool]) -> list[str]:
    """A C kernel that silently fell back to Python would read as a
    regression; with the opt-out unset, all four must load."""
    if os.environ.get("HGT2OSM2_NO_CKERNEL"):
        return []
    missing = [k for k, ok in loaded.items() if not ok]
    return [f"C kernels not loaded: {missing}"] if missing else []


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 tiny: bool = False) -> None:
        import workloads

        self.ncores = len(os.sched_getaffinity(0))
        self.wl = workloads.WORKLOADS[workload](
            self.ncores, tiny, os.path.join(BUILD, "out"))
        self.seed = seed
        self.seconds = seconds
        self.spark = None
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def setup(self) -> float:
        """Input generation once, then SETUPS times session start, kernel
        load and input loading; their sum with the median of the latter."""
        t0 = time.perf_counter()
        self.wl.generate(self.seed)
        gen_s = time.perf_counter() - t0
        times = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.wl.release()
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = start_session(self.ncores)
            self.loaded = load_kernels()
            self.wl.load(self.spark)
            times.append(time.perf_counter() - t0)
        log(f"generation {gen_s:.2f} s, set-ups {[round(t, 2) for t in times]} s")
        return gen_s + statistics.median(times)

    def check(self) -> None:
        self.problems += kernel_guard(self.loaded)
        t0 = time.perf_counter()
        try:
            found = self.wl.check()
        except Exception:
            found = ["check raised:\n" + traceback.format_exc()]
        log(f"warm-up and output checks {time.perf_counter() - t0:.2f} s")
        self.attempted += 1
        self.failed += bool(found)
        self.problems += found

    def call(self, kind: str, tr=None):
        """One request: (wall seconds, result or None if it raised)."""
        t0 = time.perf_counter()
        try:
            out = self.wl.request(kind) if tr is None else self.wl.request(kind, tr)
        except Exception:
            self.problems.append(f"{kind} raised:\n" + traceback.format_exc())
            out = None
        return time.perf_counter() - t0, out

    def rounds(self, tr=None, roots=None):
        """Closed loop of rounds for self.seconds (at least one).
        Returns [[(kind, wall_s, result)]] per round."""
        done = []
        t_end = time.perf_counter() + self.seconds
        while not done or time.perf_counter() < t_end:
            rnd = []
            for kind in self.wl.kinds():
                if tr is None:
                    wall, out = self.call(kind)
                else:
                    with tr.span("request") as root:
                        wall, out = self.call(kind, tr)
                    roots.append(root)
                rnd.append((kind, wall, out))
            done.append(rnd)
        log(f"requests {[[round(w, 2) for _k, w, _o in r] for r in done]} s")
        return done

    def verify(self, done) -> None:
        for rnd in done:
            for kind, _wall, out in rnd:
                self.attempted += 1
                ok = out is not None
                if ok:
                    try:
                        ok = self.wl.verify(kind, out)
                    except Exception:
                        self.problems.append(traceback.format_exc())
                        ok = False
                if not ok:
                    self.failed += 1
                    self.problems.append(f"{kind}: output check failed")

    def measure(self, setup_s: float) -> dict:
        import proctree

        cpu0 = proctree.cpu_seconds(proctree.tree())
        with proctree.PeakRss() as rss:
            done = self.rounds()
        cpu = proctree.cpu_seconds(proctree.tree()) - cpu0
        self.verify(done)
        walls = [w for rnd in done for _k, w, _o in rnd]
        busy = sum(walls)
        tiles = cells = 0
        for rnd in done:
            for kind, _w, _o in rnd:
                t, c = self.wl.size(kind)
                tiles += t
                cells += c
        return {
            "setup_s": setup_s,
            "tiles_per_s": tiles / busy,
            "mcells_per_s": cells / 1e6 / busy,
            "query_p50_s": percentile(walls, 0.5),
            "query_p90_s": percentile(walls, 0.9),
            "cpu_s": cpu / len(walls),
            "peak_rss_mb": rss.peak / 1e6,
        }

    def traced(self) -> dict:
        from spans import Tracer, sum_spark

        # untraced rounds: the baseline of the tracing overhead
        base = self.rounds()
        self.verify(base)
        tr = Tracer(self.spark.sparkContext,
                    f"{self.wl.name}-s{self.seed}-{os.getpid()}")
        counters, found = self.wl.counters(tr)
        self.attempted += 1
        self.failed += bool(found)
        self.problems += found
        roots = []
        done = self.rounds(tr, roots)
        self.verify(done)
        kernel_s = {}
        for s in tr.spans:
            if s.name in _KERNEL_SPANS:
                kernel_s[s.name] = kernel_s.get(s.name, 0.0) + s.self_s
        per_round = []
        it = iter(roots)
        for rnd in done:
            spans = []
            for _ in rnd:
                root = next(it)
                sub = tr.subtree(root)
                tr.read_spark(sub)
                spans += sub
            m = {v: 0.0 for v in _SPAN_METRIC.values()}
            for s in spans:
                if s.name in _SPAN_METRIC:
                    m[_SPAN_METRIC[s.name]] += s.self_s
                if s.name.startswith("ops.mosaic."):
                    m[f"{s.name}_jobs"] = s.spark["jobs"]
                    m[f"{s.name}_stages"] = s.spark["stages"]
            busy = sum(s.spark["executor_run_s"] for s in spans
                       if s.name == "ops.contours.fused")
            if busy:
                m["ops.contours.udf_overhead_s"] = busy - sum(kernel_s.values())
            for k, v in sum_spark(spans).items():
                m[f"spark.{k}"] = v
            m["trace.request_s"] = sum(w for _k, w, _o in rnd)
            per_round.append(m)
        out = dict.fromkeys(PER_LAYER, 0.0)
        for k in per_round[0]:
            out[k] = statistics.median(m[k] for m in per_round)
        for name, total in kernel_s.items():
            out[name + "_s"] = total
        out.update(counters)
        out["kernels.cext_loaded"] = sum(self.loaded.values())
        out["trace.overhead_s"] = out["trace.request_s"] - statistics.median(
            sum(w for _k, w, _o in rnd) for rnd in base)
        tr.dump(os.path.join(BUILD, "traces", f"{tr.run_id}.json"))
        self.tracer, self.roots, self.done = tr, roots, done
        return out

    def execute(self, trace: bool) -> dict:
        try:
            setup_s = self.setup()
            self.check()
            metrics = self.traced() if trace else self.measure(setup_s)
        finally:
            self.wl.release()
        for p in self.problems:
            log(p)
        if kernel_guard(self.loaded):
            self.failed = self.attempted
        if trace:
            metrics["error_rate"] = self.failed / self.attempted
        units = PER_LAYER if trace else END_TO_END
        return {
            "correct": not self.problems and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()},
        }


def shutdown() -> None:
    """Stop Spark, then the JVM the session launched, and wait for it
    and its Python workers to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    import proctree

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    pids = [p for p in proctree.tree() if p != os.getpid()]
    gw.shutdown()
    gw.proc.stdin.close()  # the JVM exits when its stdin closes
    gw.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        if not any(os.path.exists(f"/proc/{p}") for p in pids):
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hgt2osm2_spark")):
        print(f"perfbench: no hgt2osm2_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    prepare_env()
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    log(f"imports done at {time.perf_counter() - T0:.2f} s")
    try:
        result = Run(args.workload, args.seed, args.seconds).execute(
            bool(args.trace))
    finally:
        t0 = time.perf_counter()
        shutdown()
        log(f"shutdown {time.perf_counter() - t0:.2f} s, "
            f"total {time.perf_counter() - T0:.2f} s")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
