#!/usr/bin/env python3
"""Benchmark of the transcript dedup engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline-longconv --seed 1 \\
        --seconds 1 --trace 0

One run: set-up (Spark session start and the seed's input, made three
times), then measured passes until ``--seconds`` have elapsed (at least
one; the first pass is the one a ``spark-submit`` of the dedup job
pays), every pass checked for correct output. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` runs with Spark's event log on and
prints the per-layer metrics, with the tracing overhead taken against
an untraced run of the same workload and seed. The last line of
standard output is one JSON object; everything above it is the full
human-readable report. See perfbench/NOTES.md for the workloads and
what each metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# engine overrides a user may have exported; cleared so every run
# measures the engine's own defaults, and recorded in the output
CLEARED_ENV = ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_CC_LOCAL_MAX", "SPARK_GRAFT_CPUS")

# set-up repeats the input preparation and reports its median
PREP_REPEATS = 3

# units of the report-only metrics; the JSON metrics take theirs
# from BENCHMARK.json
UNITS = {
    "s": "s", "mb": "MB", "mb_per_s": "MB/s", "s_per_mb": "s/MB", "per_s": "1/s",
    "frac": "ratio", "yield": "ratio", "recall": "ratio", "byte": "ratio", "ops": "ratio",
}


def unit_of(name: str) -> str:
    """Unit from the name's last segment that ends in a known suffix
    (``batch_s.p50`` -> s); otherwise a count."""
    for seg in reversed(name.split(".")):
        for suffix, unit in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
            if seg == suffix or seg.endswith("_" + suffix):
                return unit
    return "count"


def pin_environment(cache: str) -> dict:
    """Clear engine overrides and keep every scratch file under the
    benchmark's cache. Must run before pyspark is imported."""
    cleared = {k: os.environ.pop(k) for k in CLEARED_ENV if k in os.environ}
    tmp = os.path.join(cache, "tmp")
    local = os.path.join(cache, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the Python workers import the engine and the workload generators
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, os.path.dirname(os.path.abspath(__file__)), os.environ.get("PYTHONPATH", "")]
    )
    return {
        "cleared_overrides": cleared,
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "driver_mem_env": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
    }


def start_session(cache: str, cores: int, event_log: str | None = None):
    from comparador_de_registros_spark.conf import build_spark

    tmp = os.path.join(cache, "tmp")
    extra = {
        "spark.local.dir": os.path.join(cache, "local"),
        "spark.sql.warehouse.dir": os.path.join(cache, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = "file://" + event_log
        extra["spark.eventLog.compress"] = "false"
    return build_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=extra)


def stop_jvm() -> None:
    """Stop the session and wait until the JVM, and with it the Python
    workers it forked, has exited. Closing the JVM's stdin is PySpark's
    own shutdown signal to the gateway process."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Runner:
    """Runs checked passes of one workload, counting attempts and
    failures. A pass that raises or fails its output check is counted,
    reported on stderr, and does not stop the run."""

    def __init__(self, workload, tracer, cache: str) -> None:
        self.w, self.tracer, self.cache = workload, tracer, cache
        self.attempted = self.failed = 0
        self.results = []
        self.pass_spans: list[int] = []
        self.peaks: list[float] = []
        self.steal_s = 0.0

    def measure(self, spark, seconds: float) -> str:
        """Passes until ``seconds`` have elapsed, at least one. Returns
        the last pass's work directory (kept for the kernel sample)."""
        from harness import host_steal_s, tree_peak_rss_mb

        workdir = None
        t0 = time.perf_counter()
        while workdir is None or time.perf_counter() - t0 < seconds:
            if workdir:
                shutil.rmtree(workdir, ignore_errors=True)
            self.attempted += 1
            workdir = os.path.join(self.cache, f"pass{self.attempted}")
            steal0 = host_steal_s()
            try:
                with self.tracer.span("pass"):
                    self.pass_spans.append(len(self.tracer.spans) - 1)
                    self.results.append(self.w.run_pass(spark, self.tracer, workdir))
            except Exception:
                self.failed += 1
                print(f"pass {self.attempted} failed:\n{traceback.format_exc()}", file=sys.stderr)
            self.steal_s += host_steal_s() - steal0
            self.peaks.append(tree_peak_rss_mb(os.getpid()))
        return workdir


def layer_stats(tracer, pass_idxs, jobs_by_span, cores: int) -> dict[str, float]:
    """Per-layer medians over the given passes of wall, self time and
    the Spark jobs attributed to the layer's spans."""
    from harness import covered, median

    def subtree(idx):
        out = [idx]
        for j, s in enumerate(tracer.spans):
            if s.parent in out:
                out.append(j)
        return out

    per_pass: dict[str, list[dict]] = {}
    for pidx in pass_idxs:
        tree = subtree(pidx)
        agg: dict[str, dict] = {}
        for idx in tree:
            s = tracer.spans[idx]
            jobs = [j for k in (tree if idx == pidx else [idx]) for j in jobs_by_span.get(k, [])]
            if idx == pidx:
                kids = [(c.start, c.end) for c in tracer.children(idx)]
            else:
                kids = [(j.start, j.end) for j in jobs_by_span.get(idx, [])]
            a = agg.setdefault(s.name, dict(wall_s=0.0, self_s=0.0, jobs=0, tasks=0,
                                            cpu_s=0.0, run_s=0.0, shuffle_write_mb=0.0))
            a["wall_s"] += s.duration
            a["self_s"] += s.duration - covered(kids, s.start, s.end)
            a["jobs"] += len(jobs)
            a["tasks"] += sum(j.tasks for j in jobs)
            a["cpu_s"] += sum(j.cpu_s for j in jobs)
            a["run_s"] += sum(j.run_s for j in jobs)
            a["shuffle_write_mb"] += sum(j.shuffle_write_bytes for j in jobs) / 2**20
        for name, a in agg.items():
            a["busy_frac"] = a.pop("run_s") / (a["wall_s"] * cores) if a["wall_s"] else 0.0
            per_pass.setdefault(name, []).append(a)
    out = {}
    for name, rows in per_pass.items():
        for key in rows[0]:
            out[f"{name}.{key}"] = median([r[key] for r in rows])
    return out


def untraced_layer_walls(tracer, pass_idxs) -> dict[str, float]:
    from harness import median

    walls: dict[str, list[float]] = {"pass": [tracer.spans[i].duration for i in pass_idxs]}
    for pidx in pass_idxs:
        sums: dict[str, float] = {}
        for s in tracer.spans:
            if s.parent == pidx:
                sums[s.name] = sums.get(s.name, 0.0) + s.duration
        for name, v in sums.items():
            walls.setdefault(name, []).append(v)
    return {f"{k}.wall_s": median(v) for k, v in walls.items()}


KERNEL_SAMPLE_BYTES = 2 << 20


def kernel_baseline(workload, workdir: str) -> dict[str, float]:
    """Single-threaded sign kernel in the driver over a fixed sample of
    the workload's normalized conversation text (first conversations in
    conv_id order, about 2 MB)."""
    from harness import median

    from comparador_de_registros_spark.functions import hashing as H
    from comparador_de_registros_spark.operators.signatures import batch_signatures

    texts, size = [], 0
    for t in workload.kernel_sample(workdir):
        if size >= KERNEL_SAMPLE_BYTES:
            break
        texts.append(t or "")
        size += len((t or "").encode("utf-8"))
    mb = size / 2**20
    cfg = workload.cfg
    seeds = H.make_seeds(cfg.minhash.num_perm, cfg.minhash.seed)
    batch_signatures(texts, cfg, seeds)  # warm
    walls, cpus = [], []
    t_end = time.perf_counter() + 2.0
    while len(walls) < 3 or time.perf_counter() < t_end:
        w0, c0 = time.perf_counter(), time.process_time()
        batch_signatures(texts, cfg, seeds)
        walls.append(time.perf_counter() - w0)
        cpus.append(time.process_time() - c0)
    return {
        "sign.text_mb": mb,
        "sign.kernel_mb_per_s": mb / median(walls),
        "sign.kernel_cpu_s_per_mb": median(cpus) / mb,
    }


def untraced_record(args) -> str:
    return os.path.join(ROOT, ".perfbench_cache", f"untraced-{args.workload}-{args.seed}.json")


def untraced_reference(args) -> dict:
    """The untraced result of the same workload and seed, against which
    a traced run reports the tracing overhead. An earlier untraced run
    in this checkout leaves it behind; otherwise it is made now, in a
    fresh process, so both passes start from the same state."""
    path = untraced_record(args)
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, check=False)
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "comparador_de_registros_spark")):
        print("run from the root of a checkout that holds the engine "
              "(comparador_de_registros_spark/ not found)", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    cache = os.path.join(ROOT, ".perfbench_cache", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_environment(cache)
    sys.path.insert(0, ROOT)

    from harness import Tracer, attribute_jobs, median, read_event_log
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    reference = untraced_reference(args) if args.trace else {}
    cores = env["nproc"]
    log_dir = os.path.join(cache, "eventlog") if args.trace else None
    tracer = Tracer()
    layer_metrics: dict[str, float] = {}
    try:
        t0 = time.perf_counter()
        spark = start_session(cache, cores, event_log=log_dir)
        session_s = time.perf_counter() - t0
        workload = WORKLOADS[args.workload](cache, args.seed)
        preps = []
        for _ in range(PREP_REPEATS):
            t0 = time.perf_counter()
            workload.prepare(spark)
            preps.append(time.perf_counter() - t0)
        setup_s = session_s + median(preps)
        workload.prepare_reference(spark)
        env.update(shuffle_partitions=spark.conf.get("spark.sql.shuffle.partitions"),
                   master=spark.sparkContext.master, spark=spark.version)

        runner = Runner(workload, tracer, cache)
        last_dir = runner.measure(spark, args.seconds)
        results = runner.results
        if args.trace and results:
            layer_metrics.update(kernel_baseline(workload, last_dir))
        shutil.rmtree(last_dir, ignore_errors=True)
        spark.stop()  # completes the event log
        if args.trace:
            jobs = read_event_log(log_dir)
            stats = layer_stats(tracer, runner.pass_spans, attribute_jobs(tracer, jobs), cores)
            layer_metrics.update({k: v for k, v in stats.items() if not k.endswith(".wall_s")})
            layer_metrics["pass.traced_wall_s"] = stats.get("pass.wall_s", float("nan"))
            layer_metrics.update(reference.get("layer_walls", {}))
            untraced_wall = reference.get("result", {}).get("metrics", {}).get(
                "wall_s", {}).get("value", float("nan"))
            layer_metrics["trace.overhead_s"] = layer_metrics["pass.traced_wall_s"] - untraced_wall
            if "sign.cpu_s" in stats:
                layer_metrics["sign.cpu_s_per_mb"] = stats["sign.cpu_s"] / (workload.text_bytes / 2**20)
            with open(os.path.join(ROOT, ".perfbench_cache",
                                   f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump({"spans": [dict(name=s.name, start=s.start, end=s.end,
                                          parent=s.parent, **s.attrs) for s in tracer.spans],
                           "jobs": [vars(j) for j in jobs]}, fh)
    finally:
        stop_jvm()
        shutil.rmtree(cache, ignore_errors=True)

    walls = [r.wall_s for r in results] or [float("nan")]
    e2e = {
        "setup_s": setup_s,
        "wall_s": median(walls),
        "turns_per_s": workload.n_turns / median(walls),
        "ckpt_bytes_per_input_byte": median([r.ckpt_bytes for r in results]) / workload.text_bytes
        if results else float("nan"),
        "dup_recall": min((r.recall for r in results), default=0.0),
    }
    report = dict(e2e)
    report.update(
        peak_rss_mb=max(runner.peaks), host_steal_s=runner.steal_s, session_s=session_s,
        prep_s=median(preps), passes=len(results),
        failed_ops=runner.failed / max(runner.attempted, 1), run_s=time.perf_counter() - t_start,
    )
    batch = [r.batch_s for r in results if r.batch_s]
    if batch:
        report["batch_s.p50"] = median([median(b) for b in batch])
        report["batch_s.last"] = median([b[-1] for b in batch])
    if results:
        report.update(sorted(results[-1].counts.items()))
        report["catalog.write_mb"] = results[-1].ckpt_bytes / 2**20
        report["catalog.files"] = results[-1].ckpt_files
    report.update(layer_metrics if args.trace else untraced_layer_walls(tracer, runner.pass_spans))

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  passes {len(results)}  "
          f"attempted {runner.attempted}  failed {runner.failed}")
    print("environment " + json.dumps(env, sort_keys=True))
    print("properties " + json.dumps(workload.props, sort_keys=True))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    for name, value in report.items():
        print(f"  {name:40s} {value:14.6g} {units.get(name) or unit_of(name)}")

    # a metric a failed run could not measure reads 0, which keeps the
    # line valid JSON; such a run is already marked not correct
    metrics = {
        n: {"value": float(report.get(n, 0.0)) if report.get(n) == report.get(n) else 0.0,
            "unit": u}
        for n, u in units.items()
    }
    result = {"correct": bool(results) and runner.failed == 0, "attempted": runner.attempted,
              "failed": runner.failed, "metrics": metrics}
    if not args.trace:
        with open(untraced_record(args), "w") as fh:
            json.dump({"result": result,
                       "layer_walls": untraced_layer_walls(tracer, runner.pass_spans)}, fh)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
