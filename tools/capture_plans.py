"""Dump .explain('formatted') for every bench query into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> <suffix> [query ...]
Writes plans/<tag>/<query>_<suffix>.txt for each bench query (or the named
subset), e.g. ``capture_plans.py r15 before``. The FHIR pipeline entry
runs through the same bench function so its full multi-entity plan is
captured. (ADVICE r14: the output directory derives from the tag
argument instead of a hardcoded round, and missing args print usage
instead of an IndexError.)
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ehr_data_pipeline_spark.queries import bench_queries  # noqa: E402
from ehr_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 3:
        print("usage: python tools/capture_plans.py <tag> <suffix> [query ...]",
              file=sys.stderr)
        raise SystemExit(2)
    tag, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")

    fns = {name: spec.fn for name, spec in bench_queries().items()}
    import bench as bench_mod  # noqa: E402

    fns["fhir_pipeline_10k"] = bench_mod._fhir_pipeline_10k

    for name, fn in fns.items():
        if only and name not in only:
            continue
        df = fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)", flush=True)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
