"""Capture .explain("formatted") for named queries into build/plans/<tag>/.

Usage: python tools/plan_capture.py <tag> name [name ...]
       python tools/plan_capture.py <tag> --top N   (top-N from BENCH_DETAIL.json)

Planning only — no execution — so it is cheap and safe to run while other
jobs own the CPUs. Output: build/plans/<tag>/<name>.txt (build/ is not
tracked); capture one tag before a change and one after, then diff them.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyconnect_spark.registry import ALL
from pyconnect_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    if names and names[0] == "--top":
        n = int(names[1])
        detail = json.load(open(os.path.join(REPO, "BENCH_DETAIL.json")))
        ranked = sorted(detail["queries"].items(), key=lambda kv: -kv[1])
        names = [k for k, _ in ranked[:n] if k != "stream_window_events"]
    out_dir = os.path.join(REPO, "build", "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-capture")
    builders = ALL.builders()
    for name in names:
        try:
            df = builders[name](spark, SF)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR: {type(exc).__name__}: {exc}"
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{name}: {len(plan)} chars -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
