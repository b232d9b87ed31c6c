"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The inputs for ``(workload, seed)`` are
generated once into ``perfbench/_work/inputs`` by a child process. The run
then sets up once in a fresh JVM (session start, input load and cache, and
an untimed warm-up pass of the same calls with one round each), which is
``setup_s``, and makes ``round(seconds / PASS_S)`` timed passes, at least
one, reporting each call's fastest time. Every call's result is checked against the
oracles, outside the timing.

``--trace 1`` instead runs one untraced pass and one traced pass and
reports the per-layer metrics of the traced one; the spans are written to
``perfbench/_work/trace-<workload>-s<seed>.json``. Metric names and units
come from ``BENCHMARK.json``. See README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PACKAGE = "graphsetintersection_spark"

CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"
DEADLINE_S = 150       # stop starting passes this long after launch


@dataclass
class Pass:
    times: dict = field(default_factory=dict)   # call name -> seconds
    cpu: dict = field(default_factory=dict)     # call name -> CPU seconds
    attempted: int = 0
    errors: list = field(default_factory=list)
    complete: bool = True


def run_pass(calls, tracer, check: bool, cpu_clock=None) -> Pass:
    """Run the calls in order, timing each call and its sink (and reading
    ``cpu_clock`` around it, when given). An exception ends the pass;
    checks (when asked) run after each call, untimed."""
    p = Pass()
    for c in calls:
        p.attempted += 1
        c0 = cpu_clock() if cpu_clock else 0.0
        t0 = time.perf_counter()
        try:
            with contextlib.ExitStack() as stack:
                stack.enter_context(tracer.span(c.name))
                for owner, attr, name in c.patches:
                    stack.enter_context(tracer.patched(owner, attr, name))
                out = c.run()
        except Exception:    # the program failed: report it, keep the run alive
            traceback.print_exc()
            p.errors.append(f"{c.name} raised")
            p.complete = False
            return p
        p.times[c.name] = time.perf_counter() - t0
        if cpu_clock:
            p.cpu[c.name] = cpu_clock() - c0
        if check:
            err = c.check(out)
            if err:
                p.errors.append(f"{c.name}: {err}")
    return p


def warm_up(calls, tracer) -> dict:
    """Run the warm-up calls, independent chains concurrently (the first
    calls in a fresh JVM are dominated by one-off costs that overlap well).
    A chain that fails is run once more on its own, since the package is
    not built for concurrent calls on one session. Returns each call's
    time; raises if a chain fails twice."""
    chains: dict[int, list] = {}
    for c in calls:
        chains.setdefault(c.chain, []).append(c)
    with ThreadPoolExecutor(max_workers=len(chains)) as pool:
        done = [f.result() for f in [pool.submit(run_pass, ch, tracer, False)
                                     for ch in chains.values()]]
    for i, (ch, p) in enumerate(zip(chains.values(), done)):
        if not p.complete:
            done[i] = run_pass(ch, tracer, False)
            if not done[i].complete:
                raise RuntimeError(f"warm-up failed: {done[i].errors}")
    return {k: t for p in done for k, t in p.times.items()}


def ensure_inputs(workload: str, seed: int) -> tuple[str, float]:
    """Input directory for (workload, seed), generated if missing."""
    data = os.path.join(WORK, "inputs", f"{workload}-s{seed}")
    if os.path.exists(os.path.join(data, "READY")):
        return data, 0.0
    t0 = time.perf_counter()
    tmp = f"{data}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "inputs.py"), workload,
                    str(seed), tmp], check=True, timeout=120)
    shutil.rmtree(data, ignore_errors=True)
    os.rename(tmp, data)
    return data, time.perf_counter() - t0


def configure_env() -> None:
    """Everything the session writes stays inside the checkout, and Python
    workers import the package from it."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)


def start_session():
    from graphsetintersection_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf={
        # keep every job and stage of a run for the traced counters
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed-size heap, so the JVM's resident size does not depend on
        # when the collector decided to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    })


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) cpu jiffies from /proc/stat, (0, 0) if unavailable."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def process_tree_cpu_s(root_pid: int) -> float:
    """User plus system CPU seconds, reaped children included, of this
    process and of ``root_pid`` with all its descendants (the driver JVM
    and the Python workers it forks). Time stolen by the hypervisor is not
    counted, unlike wall time."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:      # the process ended meanwhile
            continue
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    tree = {root_pid}
    grew = True
    while grew:
        kids = {p for p, pp in parent.items() if pp in tree} - tree
        tree |= kids
        grew = bool(kids)
    tree.add(os.getpid())
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus the Python driver's max RSS."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def load_metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    launched = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    specs = load_metric_specs()
    data, gen_s = ensure_inputs(args.workload, args.seed)
    configure_env()
    from spans import Tracer

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    scratch = os.path.join(WORK, "out", run_id)
    cls = WORKLOADS[args.workload]
    n_passes = 1 if args.trace else max(1, round(args.seconds / cls.PASS_S))
    spark = traced = None
    try:
        # -- set-up: session start, input load and cache, warm-up pass
        cpu0 = process_tree_cpu_s(-1)
        t0 = time.perf_counter()
        spark = start_session()
        session_start = time.perf_counter() - t0
        tracer = Tracer(spark, run_id, enabled=False)
        wl = cls(spark, data, scratch, tracer)
        wl.load()
        warm = warm_up(wl.calls(warm=True), tracer)
        wl.end_pass()
        setup_s = time.perf_counter() - t0
        pid = jvm_pid(spark)
        setup_cpu_s = process_tree_cpu_s(pid) - cpu0

        # -- timed passes
        def cpu_clock():
            return process_tree_cpu_s(pid)

        passes: list[Pass] = []
        steal0 = steal_jiffies()
        for _ in range(n_passes):
            passes.append(run_pass(wl.calls(), tracer, check=True, cpu_clock=cpu_clock))
            wl.end_pass()
            if not passes[-1].complete or time.perf_counter() - launched > DEADLINE_S:
                break
        steal1 = steal_jiffies()
        if args.trace and passes[-1].complete:
            tracer.enabled = True
            first_job = tracer.next_job()
            traced = run_pass(wl.calls(), tracer, check=True, cpu_clock=cpu_clock)
            totals = tracer.collect(first_job, tracer.next_job())
            extras = wl.extras(tracer.by_name())
            wl.end_pass()
        rss = peak_rss_mb(spark)
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    done = passes + ([traced] if traced else [])
    attempted = sum(p.attempted for p in done)
    errors = [e for p in done for e in p.errors]
    timed = [p for p in passes if p.complete]
    if not timed:
        print("perfbench: no pass completed: " + "; ".join(errors), file=sys.stderr)
        return 1
    for e in errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)

    # each call's fastest pass: interference on a shared host only adds time
    best_s = {k: min(p.times[k] for p in timed) for k in timed[0].times}
    best_cpu = {k: min(p.cpu[k] for p in timed) for k in timed[0].cpu}
    values = {"setup_s": setup_s, "run_s": sum(best_s.values()), "peak_rss_mb": rss}
    # the figures the workload is described by, named as in README.md
    figures = {"setup_s": (setup_s, "s"), "run_s": (values["run_s"], "s"),
               "cpu_s": (sum(best_cpu.values()), "s"), "peak_rss_mb": (rss, "MB"),
               "error_rate": (len(errors) / max(1, attempted), "ratio"),
               **wl.breakdown(best_s)}
    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": len(timed), "pass_run_s": [round(sum(p.times.values()), 4) for p in timed],
        "pass_cpu_s": [round(sum(p.cpu.values()), 3) for p in timed],
        "setup_s": round(setup_s, 4), "setup_cpu_s": round(setup_cpu_s, 2),
        "session_start_s": round(session_start, 4),
        "input_gen_s": round(gen_s, 3),
        "total_s": round(time.perf_counter() - launched, 2),
        "steal_s": round((steal1[0] - steal0[0]) / os.sysconf("SC_CLK_TCK"), 3),
        "steal_share": round((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 5),
        "warm_calls_s": {k: round(t, 4) for k, t in warm.items()},
        "calls_s": {k: round(t, 4) for k, t in best_s.items()},
        "calls_cpu_s": {k: round(t, 3) for k, t in best_cpu.items()},
    }
    if traced is not None and traced.complete:
        layer = per_layer_values(tracer, totals, extras)
        layer["session.start_s"] = session_start
        layer["trace.overhead_s"] = sum(traced.times.values()) - values["run_s"]
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed,
                     "untraced_run_s": values["run_s"],
                     "traced_run_s": sum(traced.times.values()),
                     "per_layer": layer, "diagnostics": diag})
        src, section = layer, specs["per_layer"]
    else:
        src, section = values, specs["end_to_end"]
    known = {m["name"] for m in section}
    for k in sorted(set(src) - known):
        print(f"perfbench: metric {k} is not in BENCHMARK.json", file=sys.stderr)
    metrics = {m["name"]: {"value": float(src.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in section}
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"diagnostics": diag, "end_to_end": values,
                            "errors": errors}) + "\n")
    print("workload-metrics " + json.dumps(
        {k: {"value": v, "unit": u} for k, (v, u) in figures.items()}))
    print("diagnostics " + json.dumps(diag))
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": len(errors), "metrics": metrics}))
    return 0


def per_layer_values(tracer, totals: dict, extras: dict) -> dict:
    """``<span>.{s,jobs,shuffle_mb,cpu_s}`` for every span name, the run's
    Spark totals and the workload's own per-layer values."""
    out: dict[str, float] = {}
    for name, agg in tracer.by_name().items():
        for k in ("s", "jobs", "shuffle_mb", "cpu_s"):
            out[f"{name}.{k}"] = agg.get(k, 0.0)
    out.update({"spark.jobs": totals["jobs"], "spark.tasks": totals["tasks"],
                "spark.gc_s": totals["gc_s"], "spark.spill_mb": totals["spill_mb"]})
    out.update(extras)
    return out


if __name__ == "__main__":
    sys.exit(main())
