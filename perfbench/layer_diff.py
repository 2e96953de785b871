"""Print two traced records side by side, per-layer metric by metric.

    python3 perfbench/run.py --workload llm_dedup --seed 3 --seconds 10 --trace 1 > base.txt
    ... change the program, rebuild happens on the next run ...
    python3 perfbench/run.py --workload llm_dedup --seed 3 --seconds 10 --trace 1 > new.txt
    python3 perfbench/layer_diff.py base.txt new.txt

Each input is a file whose last JSON line is a record printed by run.py
with --trace 1. Every metric of layers.json is printed with its base value,
the new value, the ratio new/base, and the end-to-end metrics it is
expected to move on which workloads.
"""
import json
import sys
from pathlib import Path


def load(path):
    lines = [ln for ln in Path(path).read_text().splitlines() if ln.startswith("{")]
    if not lines:
        sys.exit(f"layer_diff: no JSON record in {path}")
    return json.loads(lines[-1])["metrics"]


def fmt(v):
    return f"{v:14.6g}" if v is not None else f"{'missing':>14}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    layers = json.loads((Path(__file__).resolve().parent / "layers.json").read_text())["per_layer"]
    print(f"{'metric':48} {'unit':8} {'base':>14} {'new':>14} {'new/base':>9}  moves")
    for layer in layers:
        name = layer["name"]
        b = base.get(name, {}).get("value")
        n = new.get(name, {}).get("value")
        ratio = f"{n / b:9.3f}" if b not in (None, 0) and n is not None else f"{'-':>9}"
        moves = ",".join(layer["moves"]) + " on " + ",".join(layer["on"]) if layer["moves"] else ""
        print(f"{name:48} {layer['unit']:8} {fmt(b)} {fmt(n)} {ratio}  {moves}")


if __name__ == "__main__":
    main()
