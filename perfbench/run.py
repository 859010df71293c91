#!/usr/bin/env python3
"""Benchmark of the sketchy_spark dedup engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dedup_dense --seed 1 --seconds 20 \
        --trace 0

One process drives ``local[N]`` (N = the host's CPU count) as a closed loop:
the next iteration starts when the previous one has finished and been
checked. ``--trace 0`` times unpatched code and prints the end-to-end
metrics; ``--trace 1`` splits the window between untraced and traced
iterations and prints the per-layer metrics (see perfbench/README.md).
Every metric is printed by name with its unit on the line before the last;
the last line is the result object.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# (name, unit) in the order BENCHMARK.json lists them.
END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("files_per_s", "1/s"),
    ("udf_peak_rss_mb", "MB"),
    ("dup_pair_recall", "ratio"),
    ("dup_pair_precision", "ratio"),
)
PER_LAYER = (
    ("session.self_s", "s"),
    ("corpus.self_s", "s"),
    ("sketch.self_s", "s"),
    ("sketch.executor_cpu_s", "s"),
    ("sketch.python_bytes_in", "bytes"),
    ("sketch.python_bytes_out", "bytes"),
    ("sketch.task_skew", "ratio"),
    ("lsh.self_s", "s"),
    ("lsh.shuffle_write_bytes", "bytes"),
    ("lsh.band_rows", "count"),
    ("lsh.hot_keys", "count"),
    ("lsh.candidates", "count"),
    ("lsh.task_skew", "ratio"),
    ("lsh.spill_bytes", "bytes"),
    ("verify.self_s", "s"),
    ("verify.accepted", "count"),
    ("verify.borderline", "count"),
    ("verify.verified", "count"),
    ("verify.yield", "ratio"),
    ("containment.self_s", "s"),
    ("containment.cand_self_s", "s"),
    ("containment.fp_rows", "count"),
    ("containment.candidates", "count"),
    ("containment.verified", "count"),
    ("containment.yield", "ratio"),
    ("containment.shuffle_write_bytes", "bytes"),
    ("cluster.self_s", "s"),
    ("cluster.edges", "count"),
    ("cluster.components", "count"),
    ("checkpoint.write_s", "s"),
    ("checkpoint.bytes_written", "bytes"),
    ("checkpoint.stages_written", "count"),
    ("checkpoint.read_s", "s"),
    ("incremental.compact_s", "s"),
    ("incremental.view_stages", "count"),
    ("pipeline.self_s", "s"),
    ("materialize.self_s", "s"),
    ("driver_gap_s", "s"),
    ("trace.attributed_frac", "ratio"),
    ("trace.overhead_frac", "ratio"),
    ("mem.jvm_peak_rss_mb", "MB"),
    ("mem.leaked_cached_rdds", "count"),
    ("ingest_batch_p50_s", "s"),
    ("ingest_tail_s", "s"),
    ("clusters_read_s", "s"),
    ("store_bytes_per_input_byte", "ratio"),
    ("containment_recall", "ratio"),
)
STAGING_REPEATS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ------------------------------------------------------------ host


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """An eighth of the host's memory, within [1 GiB, 8 GiB]: the driver
    JVM runs every task in local mode, and the Python workers and other
    tenants share the rest."""
    return max(1024, min(8192, mem_total_mb() // 8))


def source_fingerprint() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "sketchy_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


# ------------------------------------------------------------ session


def start_session(work: Path, cpus: int, event_log: Path | None):
    from sketchy_spark.session import get_spark

    local = work / "spark-local"
    tmp = work / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": f"{driver_mem_mb()}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        "perfbench", master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if pids:
            time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def stamp(spark, cpus: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": cpus,
        "mem_total_mb": mem_total_mb(),
        "driver_mem_mb": driver_mem_mb(),
        "spark": spark.version,
        "python": platform.python_version(),
        "java": jvm.java.lang.System.getProperty("java.version"),
        "sketchy_spark_sources": source_fingerprint(),
    }


# ------------------------------------------------------------ iterations


def iterate(workload, spark, work: Path, tracer, label: str,
            small: bool = False) -> dict:
    """One closed-loop iteration: timed run, then checks, then release.

    The timed region is inside ``workload.run``; checks, layer counts and
    the cache release happen after it. Any exception or failed check marks
    the iteration failed. ``small`` runs the warm-up subset, unchecked.
    """
    out_dir = work / "out" / label
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)
    workload.tracer = tracer  # the workload's own spans follow the mode
    it: dict = {"label": label}
    try:
        if tracer.enabled:
            tracer.calls.clear()
            with tracer.span("iteration", "iteration") as root:
                it.update(workload.run(spark, out_dir, workload.inputs))
            it["root"] = root["id"]
        elif small:
            it.update(workload.run(spark, out_dir, workload.small_inputs))
        else:
            it.update(workload.run(spark, out_dir, workload.inputs))
        errors = [] if small else workload.check(spark, out_dir, it)
        if tracer.enabled:
            it["counts"] = workload.count_layers(spark, out_dir, it)
    except Exception:  # the loop must go on and count the failure
        traceback.print_exc()
        errors = ["raised"]
    finally:
        it["leaked_cached_rdds"] = workload.release(spark, it)
        spark.catalog.clearCache()
    it["errors"] = errors
    for handle in ("result", "inc"):
        it.pop(handle, None)
    shutil.rmtree(out_dir, ignore_errors=True)
    return it


def loop(workload, spark, work, tracer, seconds: float, tag: str) -> list:
    """Iterate until ``seconds`` have passed; at least one iteration."""
    done = []
    t_end = time.perf_counter() + seconds
    while True:
        done.append(iterate(workload, spark, work, tracer,
                            f"{tag}{len(done)}"))
        if time.perf_counter() >= t_end:
            return done


def median_of(iterations: list[dict], key: str) -> float:
    vals = [it[key] for it in iterations if key in it]
    return statistics.median(vals) if vals else 0.0


def udf_rss_mb(pid: int | None, slots: int) -> float:
    """Summed peak RSS (VmHWM) of the ``slots`` largest Python processes
    under the JVM. At most ``slots`` tasks run at once, one per worker;
    idle spare workers (their number varies run to run) are left out."""
    if pid is None:
        return 0.0
    peaks = []
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/comm") as fh:
                if not fh.read().startswith("python"):
                    continue
        except OSError:
            continue
        peaks.append(_status_kb(p, "VmHWM"))
    return sum(sorted(peaks)[-slots:]) / 1024.0


# ------------------------------------------------------------ main


def run(args, work: Path) -> tuple[dict, dict]:
    from spans import NullTracer, Tracer, fold_event_log, layer_report
    from workloads import WORKLOADS, summarize_batches

    cpus = host_cpus()
    tracer = Tracer() if args.trace else NullTracer()
    event_log = work / "eventlog" if args.trace else None
    workload = WORKLOADS[args.workload](args.seed, 2 * cpus, tracer)

    t0 = time.perf_counter()
    with tracer.span("session.get_spark", "session"):
        spark = start_session(work, cpus, event_log)
    session_s = time.perf_counter() - t0
    if tracer.enabled:
        tracer.bind(spark)
    pid = jvm_pid()
    try:
        staging = []
        for k in range(STAGING_REPEATS):
            ts = time.perf_counter()
            workload.stage(work / "input" / str(k))
            staging.append(time.perf_counter() - ts)
        tw = time.perf_counter()
        # The first iteration in a fresh JVM pays class loading, code
        # generation and Python worker start at any input size, so it runs
        # on a small subset. A second warm-up at full size would save the
        # next iteration about a sixth of its time, but a run must fit in a
        # minute on 4 cores.
        warm = [
            iterate(workload, spark, work, NullTracer(), "warm0", small=True)
        ]
        if args.trace:
            # a full-size warm-up too, so the untraced and traced iterations
            # compared by trace.overhead_frac are equally warm
            warm.append(iterate(workload, spark, work, NullTracer(), "warm1"))
        warmup_s = time.perf_counter() - tw
        setup_s = session_s + statistics.median(staging) + warmup_s

        if args.trace:
            plain = loop(workload, spark, work, NullTracer(),
                         args.seconds / 2, "plain")
            tracer.install()
            try:
                traced = loop(workload, spark, work, tracer,
                              args.seconds / 2, "traced")
            finally:
                tracer.uninstall()
        else:
            plain = loop(workload, spark, work, tracer, args.seconds, "it")
            traced = []
        udf_mb = udf_rss_mb(pid, cpus)
        jvm_mb = _status_kb(pid, "VmHWM") / 1024.0 if pid else 0.0
        info = stamp(spark, cpus)
    finally:
        stop_session(spark)

    measured = plain + traced
    failed = [it for it in measured if it["errors"]]
    ok = [it for it in plain if not it["errors"]]
    wall = median_of(ok, "wall_s")
    report: dict = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": args.trace,
        "host": info,
        "files": workload.n_files,
        "setup": {"session_s": session_s, "staging_s": staging,
                  "warmup_s": warmup_s,
                  "warmup_errors": [it["errors"] for it in warm]},
        "iterations": [
            {k: v for k, v in it.items() if k not in ("counts", "root")}
            for it in measured
        ],
    }
    metrics = {
        "setup_s": setup_s,
        "wall_s": wall,
        "files_per_s": workload.n_files / wall if wall else 0.0,
        "udf_peak_rss_mb": udf_mb,
        "dup_pair_recall": median_of(plain, "dup_pair_recall"),
        "dup_pair_precision": median_of(plain, "dup_pair_precision"),
        "failed_frac": len(failed) / len(measured),
        "mem.jvm_peak_rss_mb": jvm_mb,
        "mem.leaked_cached_rdds": max(
            it["leaked_cached_rdds"] for it in measured
        ),
        "clusters_read_s": median_of(ok, "clusters_read_s"),
        "store_bytes_per_input_byte": median_of(
            ok, "store_bytes_per_input_byte"
        ),
        "containment_recall": median_of(plain, "containment_recall"),
        **summarize_batches(ok),
    }
    if args.trace:
        metrics.update(trace_metrics(
            tracer, fold_event_log(event_log), layer_report, traced, wall
        ))
        report["spans"] = tracer.spans
    units = dict(END_TO_END + PER_LAYER)
    report["metrics"] = {
        k: {"value": v, "unit": units.get(k) or unit_of(k)}
        for k, v in sorted(metrics.items())
    }
    wanted = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": not failed and bool(ok),
        "attempted": len(measured),
        "failed": len(failed),
        "metrics": {
            k: {"value": float(metrics.get(k, 0.0)), "unit": u}
            for k, u in wanted
        },
    }
    return report, result


def unit_of(name: str) -> str:
    """Unit of a reported metric that BENCHMARK.json does not list."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "_skew", "yield")):
        return "ratio"
    return "count"


def trace_metrics(tracer, log, layer_report, traced, plain_wall) -> dict:
    """Average the per-layer report over the traced iterations."""
    rows = []
    for it in traced:
        if "root" not in it:
            continue
        r = layer_report(tracer.spans, log, it["root"])
        r.update(it.get("counts", {}))
        rows.append(r)
    out: dict[str, float] = {}
    for r in rows:
        for k, v in r.items():
            out[k] = out.get(k, 0.0) + v / len(rows)
    for s in tracer.spans:  # set-up layers, outside every iteration
        if s["layer"] in ("session", "corpus"):
            key = f"{s['layer']}.self_s"
            out[key] = out.get(key, 0.0) + s["end"] - s["start"]
    out["checkpoint.write_s"] = out.get("span.checkpoint.write_stage.total_s", 0)
    out["checkpoint.stages_written"] = out.get(
        "span.checkpoint.write_stage.calls", 0
    )
    out["checkpoint.read_s"] = out.get("span.checkpoint.read_stage.total_s", 0)
    out["incremental.compact_s"] = out.get("span.incremental.compact.total_s", 0)
    out["containment.cand_self_s"] = out.get(
        "span.containment.containment_candidates.self_s", 0
    )
    out["containment.shuffle_write_bytes"] = out.get(
        "containment.shuffle_write_bytes", 0
    ) + out.get("span.materialize.containment.shuffle_write_bytes", 0)
    if out.get("lsh.candidates"):
        out["verify.yield"] = out.get("verify.verified", 0) / out["lsh.candidates"]
    if out.get("containment.candidates"):
        out["containment.yield"] = (
            out.get("containment.verified", 0) / out["containment.candidates"]
        )
    traced_wall = median_of(traced, "wall_s")
    if plain_wall and traced_wall:
        out["trace.overhead_frac"] = traced_wall / plain_wall
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "sketchy_spark" / "__init__.py").is_file():
        print(f"error: no sketchy_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = HERE / ".work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # everything Spark and Python write goes under the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SKETCHY_LOCAL_DIR"] = str(work / "spark-local")
    try:
        report, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # left in place while another run uses it
        except OSError:
            pass
    for name, m in report["metrics"].items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
