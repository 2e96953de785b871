"""Run one workload of the benchmark and print its metrics as JSON.

    python3 perfbench/run.py --workload graph_iterative --seed 1 --seconds 10 --trace 0

Works from any directory: the checkout is found from this file's path. The
program is compiled once per checkout (perfbench/build.py), the inputs are
generated once per (workload, seed, size) into .bench_build/inputs, and one
fresh JVM runs set-up, an untimed warm pass and the timed passes. The warm
pass's outputs are checked against the generator's truth; every timed pass
must reproduce the warm pass. The last line of stdout is
{"correct", "attempted", "failed", "metrics"}; the exit code is 0 only when
no op failed.

--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics of perfbench/layers.json from a run whose passes alternate untraced
and traced. --size tiny and --wrong-truth serve perfbench/selfcheck.py.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = HERE.parent
WORKLOADS = ("species_etl", "graph_iterative", "llm_dedup")
# A run must end within 180 s once the program is built.
RUN_LIMIT_S = 175
CACHE_KEEP = 12

# Mirrors build.sbt's javaOptions (run / fork), the options graft.Bench runs with.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def heap_size():
    """SPARK_DRIVER_MEM, else half the machine's memory clamped to 2..8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def jvm_options(work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return opens + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                    f"-Xmx{heap_size()}", "-XX:ReservedCodeCacheSize=1g",
                    "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
                    # keep every file the JVM writes inside the checkout
                    "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]


def prune_cache(cache):
    entries = sorted((p for p in cache.iterdir() if p.is_dir()), key=lambda p: p.stat().st_mtime)
    for p in entries[:-CACHE_KEEP]:
        shutil.rmtree(p, ignore_errors=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_jvm(args, classpath, inputs, work, deadline):
    out = work / "result.json"
    cmd = ["java"] + jvm_options(work) + ["-cp", classpath, "perfbench.PerfBench",
           "--workload", args.workload, "--inputs", str(inputs), "--work", str(work),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--min-passes", str(args.min_passes), "--out", str(out)]
    log = work / "jvm.log"
    launch = time.time()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not out.is_file():
        tail = log.read_text(errors="replace")[-3000:]
        raise RuntimeError(f"benchmark JVM failed ({code}):\n{tail}")
    with open(out) as f:
        return launch, json.load(f)


def fail_ops(result, truth_errors):
    """(attempted, failed, reasons) over every op of every pass."""
    attempted, failed, reasons = 0, 0, []
    for p in result["passes"]:
        for op in p["ops"]:
            attempted += 1
            err = op["error"] if not op["ok"] else truth_errors.get(op["name"])
            if err:
                failed += 1
                reasons.append(f"pass {p['index']} {op['name']}: {err}")
    return attempted, failed, reasons


def end_to_end(result, launch, input_rows):
    timed = [p for p in result["passes"] if not p["warm"]]
    walls = [p["wall_s"] for p in timed]
    return {
        "pass_s": (median(walls), "s"),
        "rows_per_s": (input_rows * len(timed) / sum(walls), "rows/s"),
        "cpu_s": (median([p["cpu_s"] for p in timed]), "s"),
        "setup_s": (result["first_timed_pass_epoch_s"] - launch, "s"),
        "heap_peak_mb": (max(p["heap_after_gc_mb"] for p in timed), "MB"),
    }


def per_layer(result, layers):
    """Every metric of layers.json; ops this workload does not run read 0."""
    passes = [p for p in result["passes"] if not p["warm"]]
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    spans = result["spans"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    by_name = {s["name"]: s for s in spans if s["parent"] == 0}
    groups = result.get("task_groups", {})
    cpus = result["cpus"]

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    per_pass = []
    for p in traced:
        ops = children.get(by_name[f"pass{p['index']}"]["id"], [])
        op_s = {s["name"]: dur(s) for s in ops}
        release = sum(dur(c) for s in ops for c in children.get(s["id"], []) if c["name"] == "release")
        g = [groups.get(f"p{p['index']}:{o['name']}", {}) for o in p["ops"]]

        def total(k):
            return sum(x.get(k, 0) for x in g)

        m = {f"{name}_s": v for name, v in op_s.items()}
        m.update({
            "util.Checkpoints.releaseAll_s": release + p["settle_release_s"],
            "util.release_wait_s": p["release_wait_s"],
            "util.persisted_rdds_after_release": p["persisted_rdds_after_release"],
            "util.cache_entries_after_release": p["cache_entries_after_release"],
            "exec.jobs": total("jobs"), "exec.stages": total("stages"), "exec.tasks": total("tasks"),
            "exec.task_cpu_s": total("cpu_ns") / 1e9,
            "exec.busy_frac": total("run_ms") / 1000.0 / (p["wall_s"] * cpus),
            "exec.task_skew": max([x.get("skew", 1.0) for x in g] or [1.0]),
            "exec.shuffle_write_mb": total("shuffle_write") / 1048576.0,
            "exec.shuffle_read_mb": total("shuffle_read") / 1048576.0,
            "exec.spill_mb": total("spill") / 1048576.0,
            "exec.gc_s": total("gc_ms") / 1000.0,
            "exec.input_mb": total("input") / 1048576.0,
            "exec.output_mb": total("output") / 1048576.0,
            "exec.task_retries": total("retries"),
            "trace.span_coverage": sum(op_s.values()) / p["wall_s"],
            "jvm.jit_s": p["jit_s"],
            "jvm.gc_s": p["gc_s"],
            "jvm.process_cpu_s": p["process_cpu_s"],
        })
        for k in ("analysis_s", "optimization_s", "planning_s", "exchanges", "cached_scans"):
            m[f"plan.{k}"] = sum(o["plan"].get(k, 0.0) for o in p["ops"])
        per_pass.append(m)
    summary = {"trace.pass_s": median([p["wall_s"] for p in traced]),
               "trace.overhead_s": statistics.mean(p["wall_s"] for p in traced)
               - statistics.mean(p["wall_s"] for p in plain)}
    summary.update(result.get("layer_probes", {}))
    worst = ("util.persisted_rdds_after_release", "util.cache_entries_after_release",
             "exec.task_retries")
    out = {}
    for layer in layers:
        name = layer["name"]
        if name in summary:
            v = summary[name]
        else:
            vals = [m[name] for m in per_pass if name in m]
            v = (max(vals) if name in worst else median(vals)) if vals else 0.0
        out[name] = (v, layer["unit"])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="full")
    ap.add_argument("--wrong-truth", action="store_true",
                    help="self-check only: corrupt one expected value so the checks must fail")
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda sig, _: sys.exit(128 + sig))
    # traced runs need two untraced and two traced passes (ABBA)
    args.min_passes = 4 if args.trace else 2

    try:
        classpath = build.ensure()
    except build.BuildError as e:
        sys.exit(f"run: {e}")
    deadline = time.time() + RUN_LIMIT_S
    bench_build = ROOT / ".bench_build"
    cache = bench_build / "inputs"
    cache.mkdir(parents=True, exist_ok=True)
    inputs, truth = gen.generate(args.workload, args.seed, args.size, str(cache))
    os.utime(inputs)
    prune_cache(cache)
    if args.wrong_truth:
        _corrupt(args.workload, truth)

    work = bench_build / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        launch, result = run_jvm(args, classpath, inputs, work, deadline)
        warm_ops = {o["name"]: o for o in result["passes"][0]["ops"]}
        truth_errors = checks.verify(args.workload, truth, warm_ops, str(work / "warm"))
    except RuntimeError as e:
        sys.exit(f"run: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed, reasons = fail_ops(result, truth_errors)
    for r in reasons[:20]:
        print("FAILED", r, file=sys.stderr)
    for p in result["passes"]:
        print(f"pass {p['index']}{' warm' if p['warm'] else ''}{' traced' if p['traced'] else ''}: "
              f"wall {p['wall_s']:.3f} s, cpu {p['cpu_s']:.3f} s, process cpu {p['process_cpu_s']:.3f} s, "
              f"jit {p['jit_s']:.3f} s, gc {p['gc_s']:.3f} s, heap {p['heap_after_gc_mb']:.1f} MB",
              file=sys.stderr)
    if args.trace:
        with open(HERE / "layers.json") as f:
            metrics = per_layer(result, json.load(f)["per_layer"])
    else:
        metrics = end_to_end(result, launch, truth["input_rows"])
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


def _corrupt(workload, truth):
    """Shift one expected value per workload (self-check of the checks)."""
    if workload == "species_etl":
        truth["corrupt_files"] += 1
    elif workload == "graph_iterative":
        node = min(truth["kCore"])
        truth["kCore"][node] += 1
    else:
        h = min(truth["exact"])
        keep, n = truth["exact"][h]
        truth["exact"][h] = (keep, n + 1)


if __name__ == "__main__":
    main()
