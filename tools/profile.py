"""Query profiler (guide §1: measure first) for any registered query:

  * dumps `.explain("formatted")` to plans/profile/<name>_<tag>.txt
  * times one noop-sink run (steady state: everything pre-warmed the
    same way bench.py warms) and counts the Spark JOBS the single call
    schedules (driver actions inside the query fn + the final noop)
  * records executed-plan truth (shuffle bytes, Exchange count, spill)
    via observability.plan_runtime_metrics

Usage: python tools/profile.py [tag] [query ...]
  tag defaults to "before"; naming queries limits the run (default:
  all bench-flagged queries; gate-only paths such as dedup_clusters can
  be named too). Writes plans/profile/PROFILE_<tag>.json, merging into
  an existing file of that tag.
"""

from __future__ import annotations

import json
import os
import sys
import time

# Run as a script, this directory is sys.path[0], where this file would
# shadow the stdlib `profile` module that cProfile (imported by pyspark)
# loads: replace it with the repo root.
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from crypto_data_pipeline_spark import get_spark
from crypto_data_pipeline_spark.observability import (
    plan_runtime_metrics,
    proc_tree_cpu_seconds,
)
from crypto_data_pipeline_spark.plans.registry import load_with_extras


def explain_formatted(df) -> str:
    """explain("formatted") as a string (Spark 4 classic API dropped
    `_explain_string`; go through the JVM ExplainMode entry point)."""
    jvm = df.sparkSession.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ["SPARK_GRAFT_REQUIRE_SILVER"] = "1"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "plans", "profile")
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("profile")
    sc = spark.sparkContext
    registry = load_with_extras()
    if only:
        specs = [registry[name] for name in sys.argv[2:]]
    else:
        specs = [s for s in registry.values() if s.bench]

    # warm exactly like bench.py: codegen at sf0.001, then caches/cold
    # builds at the target SF, then one more pass so the profiled run
    # is the steady state the bench times
    warm_sf = "/root/testdata/sf0.001"
    for spec in specs:
        spec.fn(spark, warm_sf).write.format("noop").mode("overwrite").save()
    for spec in specs:
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    for spec in specs:
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    rows: dict[str, dict] = {}
    for spec in specs:
        group = f"profile-{spec.name}"
        sc.setJobGroup(group, spec.name)
        sc.setJobDescription(f"profile: {spec.name}")
        cpu0 = proc_tree_cpu_seconds()
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        cpu = proc_tree_cpu_seconds() - cpu0
        sc.setJobGroup("other", "other")
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        # executed-plan truth from the df's own QueryExecution
        df2 = spec.fn(spark, sf_dir)
        df2._jdf.queryExecution().toRdd().count()
        met = plan_runtime_metrics(df2)
        with open(os.path.join(out_dir, f"{spec.name}_{tag}.txt"), "w") as f:
            f.write(explain_formatted(df2))
        rows[spec.name] = {
            "wall": round(wall, 3),
            "py_build": round(t_build, 3),
            "cpu_s": round(cpu, 2),
            "n_jobs": jobs,
            **{k: int(v) for k, v in met.items()},
        }
        print(
            f"{spec.name:35s} wall={wall:6.3f} build={t_build:6.3f} "
            f"cpu={cpu:7.2f} jobs={jobs:3d} exch={met['n_exchanges']:2d} "
            f"shuf={met['shuffle_bytes_written']}",
            flush=True,
        )

    out_path = os.path.join(out_dir, f"PROFILE_{tag}.json")
    merged: dict[str, dict] = {}
    if os.path.exists(out_path):  # named-query runs accumulate into the tag
        with open(out_path) as f:
            merged = json.load(f)
    merged.update(rows)
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
