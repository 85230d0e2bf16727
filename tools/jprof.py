"""Per-query Spark job/stage profile, run the way the curation benchmark
runs its queries.

Each named query is built and then ``collect()``-ed, in the order given,
inside its own job group, twice: a cold pass (the first execution of its
plans in the application, as a fresh batch job sees it) and then a warm
pass. Operator caches are left in place between queries, as in one
session's job. For each pass the tool reports the query's Spark jobs,
stages that ran tasks, tasks, wall time and the Python evaluation nodes
in any of its executed plans (cache fills and checkpoints included;
``python=none`` means no Python worker ran), and at the end the total
jobs per pass. Many jobs of one or two tasks and a wall far above the task time
means the query is bound by per-job fixed cost, not by compute.

The session is the benchmark's own (``perfbench/harness.start_session``:
cores = CPUs, shuffle partitions = CPUs, 2g heap, warm-up query), so the
counts are the ones ``perfbench/run.py --workload llm_curation_batch``
pays.

Usage:
    SPARK_GRAFT_SF_DIR=DIR python tools/jprof.py name [name ...]

DIR holds ``documents.parquet``/``embeddings.parquet`` in the fixture
schema. The curation benchmark's corpus for seed 7 is written by

    python -c "import sys; sys.path.insert(0, 'perfbench'); import gen; \
        gen.write_corpus(*gen.make_corpus(7, 600, 300), 'DIR')"
"""
from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Physical nodes that hand rows to a Python worker.
PYTHON_NODE = re.compile(r"\b\w*(?:EvalPython|InPandas|InArrow)\w*")


def profile(spark, builder, group: str) -> tuple[float, int, int, int, list[str]]:
    """Builds and collects one query inside job group ``group``; returns
    (wall seconds, jobs, stages that ran tasks, tasks, Python nodes)."""
    from pyconnect_spark.plans import executed_plans

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    walls = []

    def run() -> None:
        t0 = time.perf_counter()
        builder(spark, SF).collect()
        walls.append(time.perf_counter() - t0)

    try:
        plans = executed_plans(spark, run)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = tracker.getJobIdsForGroup(group) or []
    stage_ids: set[int] = set()
    for j in jobs:
        ji = tracker.getJobInfo(j)
        if ji:
            stage_ids.update(ji.stageIds)
    tasks = [
        si.numTasks
        for si in map(tracker.getStageInfo, stage_ids)
        if si and si.numCompletedTasks > 0
    ]
    python = sorted({m for plan in plans for m in PYTHON_NODE.findall(plan)})
    return walls[0], len(jobs), len(tasks), sum(tasks), python


def main() -> None:
    import harness
    from pyconnect_spark.registry import ALL

    names = sys.argv[1:]
    builders = ALL.builders()
    work = tempfile.mkdtemp(prefix="jprof-")
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the program from this checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        spark, _, _ = harness.start_session(work)
        for pass_ in ("cold", "warm"):
            total = 0
            for name in names:
                wall, jobs, stages, tasks, python = profile(spark, builders[name], f"jprof-{pass_}-{name}")
                total += jobs
                print(
                    f"{pass_} {name}: wall={wall:.2f}s jobs={jobs} stages={stages} tasks={tasks}"
                    f" python={','.join(python) or 'none'}",
                    flush=True,
                )
            print(f"{pass_} total jobs={total}", flush=True)
    finally:
        harness.stop_processes()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
