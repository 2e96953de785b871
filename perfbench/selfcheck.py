"""Self-check of the benchmark itself (not of the program).

    python3 perfbench/selfcheck.py

1. BENCHMARK.json's per-layer metrics are exactly layers.json's.
2. Each workload passes on tiny inputs, reports every end-to-end metric of
   BENCHMARK.json and finishes within TINY_LIMIT_S.
3. A deliberately wrong expectation (--wrong-truth) exits non-zero and
   raises the failed-op count.
4. A tiny traced run reports every per-layer metric, and its op spans cover
   the pass wall time to within a tenth.
5. In a directory holding only BENCHMARK.json and perfbench/, the command
   exits non-zero without printing a result.
Exits 0 when all hold.
"""
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TINY_LIMIT_S = 120


def run(args, cwd=ROOT, runner=HERE / "run.py"):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(runner)] + args, cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    return p.returncode, json.loads(lines[-1]) if lines else None, time.time() - t0, p.stderr


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    layers = json.loads((HERE / "layers.json").read_text())["per_layer"]
    problems = []

    def expect(ok, what):
        print(("ok    " if ok else "FAIL  ") + what)
        if not ok:
            problems.append(what)

    expect([(m["name"], m["unit"]) for m in bench["per_layer"]] ==
           [(m["name"], m["unit"]) for m in layers], "BENCHMARK.json per_layer matches layers.json")
    e2e = {m["name"] for m in bench["end_to_end"]}

    for w in ("species_etl", "graph_iterative", "llm_dedup"):
        code, res, secs, err = run(["--workload", w, "--seed", "1", "--seconds", "1",
                                    "--size", "tiny"])
        expect(code == 0 and res and res["correct"] and res["failed"] == 0
               and set(res["metrics"]) == e2e and secs < TINY_LIMIT_S,
               f"{w} tiny run passes with every end-to-end metric in {secs:.0f} s"
               + ("" if code == 0 else f"\n{err[-2000:]}"))

    code, res, _, _ = run(["--workload", "graph_iterative", "--seed", "1", "--seconds", "1",
                           "--size", "tiny", "--wrong-truth"])
    expect(code != 0 and res is not None and res["failed"] > 0 and not res["correct"],
           f"wrong expectation exits {code} with failed={res and res['failed']}")

    code, res, _, err = run(["--workload", "species_etl", "--seed", "1", "--seconds", "1",
                             "--size", "tiny", "--trace", "1"])
    names = {m["name"] for m in layers}
    expect(code == 0 and res and set(res["metrics"]) == names,
           "traced tiny run reports every per-layer metric" + ("" if code == 0 else f"\n{err[-2000:]}"))
    if res:
        cov = res["metrics"].get("trace.span_coverage", {}).get("value", 0)
        expect(0.9 <= cov <= 1.0, f"op spans cover {cov:.3f} of pass wall time")

    bare = ROOT / ".bench_build" / "selfcheck-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, res, _, _ = run(["--workload", "species_etl", "--seed", "1", "--seconds", "1"],
                          cwd=bare, runner=bare / "perfbench" / "run.py")
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and res is None, f"bare directory exits {code} without a result")

    print("selfcheck:", "all ok" if not problems else f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
