#!/usr/bin/env python3
"""gdal_spark benchmark: one seeded workload, closed loop, one JSON line.

    python3 perfbench/run.py --workload tile_e2e --seed 1 --seconds 10 --trace 0

Run from the repository root. One Python process starts Spark in
``local[nproc]`` through ``gdal_spark.session.get_spark`` and runs one
job at a time, each waiting for the previous one. The run:

1. starts the session (process start and JVM launch included),
   generates the seeded inputs and runs one warm-up iteration (on an
   eighth of the images for ``tile_e2e``); all of it is ``setup_s``;
2. repeats the workload's iteration for ``--seconds`` (at least
   ``MIN_ITERS`` times), timing each call into the program, sampling
   CPU and memory of the JVM and its Python workers from ``/proc`` and
   host steal from ``/proc/stat``; an iteration that raises is counted
   as failed and the loop goes on;
3. checks every output (see ``workloads.py``) and replays the kernels
   single-threaded over a fixed sample of the workload's rows;
4. with ``--trace 1``, also writes Spark's event log and reports the
   per-layer metrics of ``BENCHMARK.json`` instead of the end-to-end ones;
   the span tree goes to ``perfbench/.out/``.

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``. Lines before it give each metric's median, quartiles and
sample count. Exit status: 0 when every check passed, 1 when one
failed, 2 when the program or Spark is missing or set-up failed, 3 when
the run overran its deadline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_ITERS = 3
DEADLINE_S = 170.0


def metric_units() -> tuple[dict, dict]:
    """({end-to-end name: unit}, {per-layer name: unit}) of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[key]}
                 for key in ("end_to_end", "per_layer"))


def fail(code: int, msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def jvm_heap() -> str:
    """An eighth of the host's RAM, at most 2 GiB: the inputs are small,
    and the default of 24g is more than many hosts have."""
    with open("/proc/meminfo", encoding="ascii") as f:
        total_kb = int(f.readline().split()[1])
    return f"{min(2048, total_kb // 8192)}m"


def quartiles(values):
    vals = sorted(values)
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


class Session:
    """The Spark session of this run and the processes behind it."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.trace = trace
        self.spark = None
        self.cores = len(os.sched_getaffinity(0))

    def start(self):
        from gdal_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
            "spark.eventLog.enabled": "true" if self.trace else "false",
            "spark.eventLog.dir": "file://" + os.path.join(self.work, "events"),
            "spark.eventLog.compress": "false",
        }
        self.spark = get_spark(cores=self.cores, app_name="perfbench",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm(self):
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return getattr(gw, "proc", None) if gw is not None else None

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for every process under it."""
        from pyspark import SparkContext

        from perfbench.probes import ProcTree

        proc = self.jvm()
        pids = ProcTree(proc.pid).pids() if proc is not None else []
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when this pipe closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        wait_gone(pids, 10.0)


def wait_gone(pids, timeout_s: float) -> None:
    """Wait until none of ``pids`` is alive; SIGKILL what outlives
    ``timeout_s`` and wait again."""
    from perfbench.probes import read_stat

    def alive():
        return [p for p in pids
                if (st := read_stat(p)) is not None and st[0] != "Z"]

    deadline = time.time() + timeout_s
    while alive() and time.time() < deadline:
        time.sleep(0.1)
    for p in alive():
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 5.0
    while alive() and time.time() < deadline:
        time.sleep(0.05)


def watchdog(session: Session) -> threading.Timer:
    def abort():
        print("perfbench: deadline passed, killing Spark", file=sys.stderr)
        proc = session.jvm()
        if proc is not None:
            from perfbench.probes import ProcTree

            pids = ProcTree(proc.pid).pids()
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            wait_gone(pids, 5.0)
        os._exit(3)

    t = threading.Timer(max(1.0, DEADLINE_S - (time.time() - T_START)), abort)
    t.daemon = True
    t.start()
    return t


class Ops:
    """Times calls into the program and tags their Spark jobs."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.times: dict = {}  # (tag, op) -> seconds

    def bind(self, tag: str):
        def op(name, fn):
            self.spark.sparkContext.setJobGroup(f"{tag}:{name}", name)
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"op.{name}", group=f"{tag}:{name}"):
                    return fn()
            finally:
                self.times[(tag, name)] = (
                    self.times.get((tag, name), 0.0) + time.perf_counter() - t0)
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return op


def run(args) -> int:
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "gdal_spark", "__init__.py")):
        return fail(2, f"program sources not found under {ROOT}/gdal_spark")
    try:
        import pyspark  # noqa: F401
    except ImportError:
        return fail(2, "pyspark is not importable")

    from perfbench.probes import ProcTree, plan_fp, read_cpu_ticks, steal_pct
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return fail(2, f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    trace = args.trace == 1
    work_root = os.path.join(HERE, ".work")
    for stale in os.listdir(work_root) if os.path.isdir(work_root) else []:
        shutil.rmtree(os.path.join(work_root, stale), ignore_errors=True)
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("local", "tmp", "events", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = jvm_heap()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    tracer = Tracer(enabled=trace)
    session = Session(work, trace)
    timer = watchdog(session)
    wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "data"))
    results, errors, iters = [], [], []
    root_span = tracer.begin("run", T_START, workload=wl.name, seed=args.seed)
    try:
        with tracer.span("setup"):
            with tracer.span("setup.session"):
                spark = session.start()
            session_s = time.time() - T_START
            with tracer.span("setup.generate"):
                wl.generate(spark)
            generate_s = time.time() - T_START - session_s
            ops = Ops(spark, tracer)
            with tracer.span("setup.warmup"):
                wl.warmup(spark, ops.bind("w"))
            setup_s = time.time() - T_START
    except Exception as exc:  # noqa: BLE001 - report and stop cleanly
        traceback.print_exc()
        session.stop()
        shutil.rmtree(work, ignore_errors=True)
        return fail(2, f"set-up failed: {type(exc).__name__}: {exc}")

    tree = ProcTree(session.jvm().pid).start()
    tree.mark()
    t_loop = time.perf_counter()
    with tracer.span("loop"):
        while len(iters) < MIN_ITERS or time.perf_counter() - t_loop < args.seconds:
            tag = f"m{len(iters)}"
            cpu0, st0 = tree.cpu_s(), read_cpu_ticks()
            rec = {"tag": tag}
            try:
                with tracer.span("iter", tag=tag):
                    results.append(wl.iterate(spark, ops.bind(tag)))
            except Exception as exc:  # noqa: BLE001 - count it, go on
                traceback.print_exc()
                rec["error"] = type(exc).__name__
                errors.append(rec["error"])
            rec["ops"] = {o: v for (t, o), v in ops.times.items() if t == tag}
            rec["cpu_s"] = tree.cpu_s() - cpu0
            rec["steal_pct"] = steal_pct(st0, read_cpu_ticks())
            iters.append(rec)
    peak_rss = tree.peak_rss_mb()
    tree.stop()

    problems: list[str] = []
    fps = ""
    try:
        with tracer.span("check") as check_span:
            if results:
                problems += wl.check(spark, results, ops.bind("c"))
            if trace:
                problems += wl.traced(spark, ops.bind("t"))
        fps = plan_fp(*wl.plans(spark))
    except Exception as exc:  # noqa: BLE001 - a check that cannot run fails
        traceback.print_exc()
        problems.append(f"check raised {type(exc).__name__}: {exc}")
    finally:
        session.stop()
        timer.cancel()
    for name, s, e in wl.kernel_spans:
        tracer.add(name, s, e, parent=check_span)
    wl.cleanup()

    ok_iters = [r for r in iters if "error" not in r]
    ips = [wl.items / sum(r["ops"].values()) for r in ok_iters]
    samples = {
        "items_per_s": ips,
        "cpu_s_per_kitem": [r["cpu_s"] / (wl.items / 1e3) for r in ok_iters],
        "peak_rss_mb": [peak_rss],
        "setup_s": [setup_s],
    }
    layers = layer_metrics(wl, work, ok_iters, ops, tracer, ips) if trace and ok_iters else {}
    tracer.end(root_span)

    correct = not problems and bool(ok_iters)
    for p in problems:
        print(f"# CHECK FAILED: {p}")
    print(f"# workload={wl.name} seed={args.seed} items={wl.items} "
          f"cores={session.cores} iterations={len(iters)} failed={len(errors)} "
          f"errors={sorted(set(errors))} plan_fp={fps} "
          f"session_s={session_s:.2f} generate_s={generate_s:.2f} "
          f"warmup_s={setup_s - session_s - generate_s:.2f} "
          f"steal_pct={[round(r['steal_pct'], 2) for r in iters]}")
    for r in iters:
        print(f"# {r['tag']} " + " ".join(f"{k}_s={v:.3f}" for k, v in r["ops"].items()))
    end_to_end, per_layer = metric_units()
    metrics = {}
    if trace:
        for name, unit in per_layer.items():
            metrics[name] = {"value": float(layers.get(name, 0.0)), "unit": unit}
            print(f"# {name} = {metrics[name]['value']:.6g} {unit}")
        for name, (n, tot, self_s) in sorted(tracer.self_times().items()):
            print(f"# span {name}: n={n} total_s={tot:.3f} self_s={self_s:.3f}")
    else:
        for name, unit in end_to_end.items():
            if not samples[name]:
                continue
            q1, med, q3 = quartiles(samples[name])
            metrics[name] = {"value": med, "unit": unit}
            print(f"# {name} median={med:.6g} q1={q1:.6g} q3={q3:.6g} "
                  f"n={len(samples[name])} {unit}")
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w", encoding="utf-8") as f:
        json.dump({"workload": wl.name, "seed": args.seed, "trace": args.trace,
                   "samples": samples, "iterations": iters, "plan_fp": fps,
                   "problems": problems, "layers": layers}, f)
    if trace:
        tracer.dump(stem + "-spans.json")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": len(iters),
                      "failed": len(errors), "metrics": metrics}), flush=True)
    return 0 if correct else 1


def layer_metrics(wl, work, ok_iters, ops, tracer, ips) -> dict:
    """Per-layer metrics of a traced run: event-log sums per measured
    iteration (median over iterations), the probes of the traced-only
    operators, the replay's kernel numbers and the operator timings.
    Also hangs Spark job and stage spans under the operator spans."""
    from perfbench.probes import SPARK_FIELDS, knn_ring_rounds, parse_event_log_dir

    by_group = parse_event_log_dir(os.path.join(work, "events"))
    op_span = {s["attrs"].get("group"): s["id"] for s in tracer.spans
               if s["name"].startswith("op.")}
    per_iter: dict = {}
    for group, layer in by_group.items():
        for jid, t0, t1, stages in layer["jobs"]:
            if t0 is None or t1 is None:
                continue
            js = tracer.add("spark.job", t0 / 1e3, t1 / 1e3,
                            parent=op_span.get(group), job=jid)
            for sid, name, s0, s1 in stages:
                if s0 is not None and s1 is not None:
                    tracer.add("spark.stage", s0 / 1e3, s1 / 1e3, parent=js,
                               stage=sid, call=name)
        if group.startswith("m"):
            tag, op = group.split(":", 1)
            it = per_iter.setdefault(tag, {f: 0.0 for f in SPARK_FIELDS})
            for f in SPARK_FIELDS:
                it[f] += layer[f]
            it[f"{op}.join_rows"] = layer["inner_join_rows"]

    tags = [r["tag"] for r in ok_iters if r["tag"] in per_iter]

    def med(key):
        return statistics.median(per_iter[t].get(key, 0.0) for t in tags) if tags else 0.0

    out = {f"spark.{f}": med(f) for f in SPARK_FIELDS if f != "inner_join_rows"}
    for op in wl.ops:
        out[f"ops.{op}_s"] = statistics.median(r["ops"][op] for r in ok_iters)
    out |= wl.layers
    out["host.steal_pct"] = statistics.median(r["steal_pct"] for r in ok_iters)
    out["trace.items_per_s"] = statistics.median(ips)
    if wl.name == "tile_e2e" and out["spark.python_run_s"]:
        out["kernel.python_cover"] = (
            out.get("kernel.ms_per_item", 0.0) * wl.items / 1e3
            / out["spark.python_run_s"])
    if wl.name == "vector_join":
        pairs = med("pip_join.join_rows")
        out["spatial_join.candidate_pairs"] = pairs
        out["spatial_join.refine_yield"] = (
            out.get("spatial_join.matches", 0) / pairs if pairs else 0.0)
        out["knn.broadcast_ms_per_kpoint"] = (
            1e3 * out["ops.knn_broadcast_s"] / (wl.items / 1e3))
        ring = by_group.get("t:knn_ring")
        if ring is not None:
            out["ops.knn_ring_s"] = ops.times[("t", "knn_ring")]
            out["knn.rounds"] = knn_ring_rounds(ring["generators"])
            out["knn.pairs_examined"] = ring["inner_join_rows"]
            out["knn.pairs_per_result"] = ring["inner_join_rows"] / (
                wl.sizes["ring_points"] * wl.k)
            out["knn.ring_shuffle_mb"] = ring["shuffle_write_mb"]
            out["knn.ring_spill_mb"] = ring["spill_mb"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
