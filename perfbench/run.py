#!/usr/bin/env python3
"""Chip-pipeline benchmark: one command, two workloads.

    python3 perfbench/run.py --workload ingest_stream --seed 1 --seconds 10 --trace 0

Run from the repository root. The run writes its seeded inputs (timed as
`setup_s`, median of three set-ups), starts a local Spark session sized
from `nproc` and MemTotal, runs one untimed reference pass that is checked
against an independent numpy computation, then repeats timed passes for
`--seconds` and checks each pass's output digest against the reference.

--trace 0 prints the end-to-end metrics; --trace 1 alternates untraced and
traced passes and prints the per-layer metrics (see perfbench/README.md).
The last line of stdout is one JSON object: correct, attempted, failed,
metrics. The exit code is 0 only when every check passed. Scratch files
go to .bench_work/ (deleted at exit) and spans to .bench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "instageo_e2e_geospatial_ml_spark"
SETUPS = 3


def process_tree(pid: int) -> list[int]:
    """pid and all its live descendants, from /proc."""
    kids: dict = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident memory (VmHWM) of pid and its live
    descendants: the driver, the JVM and its Python workers."""
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                total += next(int(l.split()[1]) for l in fh if l.startswith("VmHWM"))
        except (OSError, StopIteration, ValueError):
            pass
    return total / 1024


def start_session(work: str):
    """A local session that fits the machine: cores from nproc, driver
    memory a quarter of MemTotal (1-8 GiB), scratch inside `work`."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(8, mem_kb // 4 // 2**20))}g"
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    from instageo_e2e_geospatial_ml_spark.session import get_spark

    return get_spark(master=f"local[{cores}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.OMP_NUM_THREADS": "1",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}",
    })


def running(pid: int) -> bool:
    """pid exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 15
    while True:
        alive = [p for p in children if running(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def q(values, default=0.0):
    return statistics.median(values) if values else default


class Tally:
    """Operations attempted and failed, and check errors, over one run."""

    def __init__(self, w, ref, errors):
        self.w, self.ref, self.errors = w, ref, list(errors)
        self.attempted, self.failed = ref.ops, ref.failed

    def plain_pass(self, spark):
        """One untraced pass: (wall, result), or None when it failed."""
        t0 = time.perf_counter()
        try:
            r = self.w.run_pass(spark)
        except Exception as e:  # counted as a failed operation
            log(f"pass failed: {e!r}"[:2000])
            self.attempted += 1
            self.failed += 1
            return None
        dt = time.perf_counter() - t0
        self.attempted += r.ops
        self.failed += r.failed
        if r.failed:
            return None
        if r.digest != self.ref.digest:
            self.errors.append(f"{self.w.name}: pass output differs from the reference pass")
        log(f"pass: {dt:.3f}s")
        return dt, r


def measure(w, spark, seconds: float) -> tuple[Tally, dict]:
    """Reference pass and checks, then timed passes for `seconds`."""
    t = Tally(w, *w.reference(spark))
    log(f"reference pass done, {len(t.errors)} check errors")
    walls, rates = [], []
    end = time.perf_counter() + seconds
    while time.perf_counter() < end or (not walls and t.failed < 3):
        got = t.plain_pass(spark)
        if got:
            walls.append(got[0])
            rates.append(got[1].units / got[0])
    return t, {"pass_s": q(walls), "input_rows_per_s": q(rates)} if walls else {}


def png_decode_ms(seed: int, size: int = 128, reps: int = 15) -> float:
    """Driver-side codecs.decode of one granule's seven PNG bands, no Spark."""
    from instageo_e2e_geospatial_ml_spark import codecs

    from perfbench import inputs

    g = inputs.granule_id("31UFU", 0)
    bufs = [codecs.encode(inputs.band_pixels(seed, g, b, size), "png") for b in inputs.ALL_BANDS]
    times = []
    for _ in range(reps):
        for b in bufs:
            t0 = time.perf_counter()
            codecs.decode(b, size, size, 1, "png")
            times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3


def traced(w, spark, seconds: float) -> tuple[Tally, dict, list]:
    """Alternate untraced and traced passes; per-layer medians and spans."""
    from perfbench.trace import LAYERS, WORK, Tracer

    t = Tally(w, *w.reference(spark))
    log(f"reference pass done, {len(t.errors)} check errors")
    plain, traced_walls, batches, rdd_growth = [], [], [], []
    per_pass: list[dict] = []
    spans: list = []
    end = time.perf_counter() + seconds
    i = 0
    while (time.perf_counter() < end or not per_pass) and t.failed < 3:
        i += 1
        before = len(spark.sparkContext._jsc.getPersistentRDDs())
        got = t.plain_pass(spark)
        if got:
            plain.append(got[0])
            batches += got[1].batches or [got[0]]
            rdd_growth.append(len(spark.sparkContext._jsc.getPersistentRDDs()) - before)
        tr = Tracer(spark, f"p{i}")
        t0 = time.perf_counter()
        try:
            d = w.traced_pass(spark, tr)
        except Exception as e:  # counted as a failed operation
            log(f"traced pass failed: {e!r}"[:2000])
            t.attempted += 1
            t.failed += 1
            continue
        finally:
            tr.release()
        traced_walls.append(time.perf_counter() - t0)
        t.attempted += 1
        if d != t.ref.digest:
            t.errors.append(f"{w.name}: traced output differs from the untraced pass")
        tr.collect_work()
        totals = tr.layer_totals()
        m = {f"{L}.{k}": totals[L][k] for L in LAYERS for k in ("self_s", "rows_out") + WORK}
        c = tr.counters
        m["spatial_join.refine_yield"] = ratio(
            totals["spatial_join"]["rows_out"], c.get("spatial_join.bbox_candidates", 0))
        m["asof.pick_yield"] = ratio(c.get("asof.picks", 0), c.get("asof.asked", 0))
        m["validity.keep_ratio"] = ratio(totals["validity"]["rows_out"], c.get("validity.seen", 0))
        m["chips.decodes"] = c.get("chips.decodes", 0)
        m["chips.decode_amplification"] = ratio(
            c.get("chips.decodes", 0), c.get("chips.wanted_images", 0))
        for k in ("checkpoint.append_s", "checkpoint.read_s", "checkpoint.bytes_written",
                  "knn.candidate_pairs"):
            m[k] = c.get(k, 0)
        layers = [s for s in tr.spans if s.name in LAYERS]
        m["pipeline.batch_overhead_s"] = q([
            (b.end - b.start) - sum(tr.self_time(s) for s in layers if s.parent == b.id)
            for b in tr.spans if b.name in ("pass", "batch")
        ])
        per_pass.append(m)
        spans.append({"pass": i, "spans": tr.records(), "counters": dict(c)})
    metrics = {k: q([p[k] for p in per_pass]) for k in per_pass[0]} if per_pass else {}
    metrics["pipeline.batch_s"] = q(batches)
    metrics["pipeline.trace_overhead_s"] = q(traced_walls) - q(plain)
    metrics["session.cached_rdds"] = q(rdd_growth)
    metrics["codecs.png_decode_ms"] = png_decode_ms(w.seed)
    return t, (metrics if per_pass else {}), spans


def ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one timed pass (for the self-tests)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "plans", "pipeline.py")):
        print(f"error: the {PACKAGE} package is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)  # for the Python workers
    os.environ["OMP_NUM_THREADS"] = "1"
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    tag = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = None
    spark = None
    try:
        w = WORKLOADS[args.workload](work, args.seed, smoke=args.smoke)
        setups = []
        for i in range(1 if args.trace else SETUPS):
            t0 = time.perf_counter()
            w.setup(i)
            setups.append(time.perf_counter() - t0)
        log(f"set-up done: {' '.join(f'{t:.2f}s' for t in setups)}")
        t0 = time.perf_counter()
        spark = start_session(work)
        start_s = time.perf_counter() - t0
        log(f"session started in {start_s:.1f}s")
        w.load(spark)
        seconds = 0.0 if args.smoke else args.seconds
        if args.trace:
            t, metrics, spans = traced(w, spark, seconds)
            if metrics:
                metrics["session.start_s"] = start_s
                metrics["session.peak_rss_mb"] = tree_peak_rss_mb(os.getpid())
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"spans_{args.workload}_{args.seed}.json"), "w") as fh:
                json.dump(spans, fh)
        else:
            t, metrics = measure(w, spark, seconds)
            if metrics:
                metrics["setup_s"] = q(setups)
    finally:
        if spark is not None:
            stop_session(spark)
        log("session stopped")
        shutil.rmtree(work, ignore_errors=True)
    for e in t.errors:
        print(f"check failed: {e}", file=sys.stderr)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    unit = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    want = {m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    ok = set(metrics) == want
    if not ok:
        print(f"error: metrics {sorted(set(metrics) ^ want)} do not match BENCHMARK.json",
              file=sys.stderr)
    correct = ok and not t.errors
    print(json.dumps({
        "correct": correct,
        "attempted": t.attempted,
        "failed": t.failed,
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
