"""Per-query profiler for optimization rounds: capture explain("formatted")
and min-of-N noop-sink timings for named queries.

Usage:
    python tools/qprof.py [--tag before|after] [--trials N] [--plans-dir plans/r10] q1 q2 ...

Per CLAUDE.md measurement traps: the DataFrame is REBUILT per trial (a
re-collected DataFrame object reuses materialized shuffle map outputs and
reports fiction), and each query gets a labeled job description. The plan
is captured from a fresh build (pre-execution, AQE initial plan).

Each trial also records the Janino compiles it caused (CodegenMetrics'
compilation-time histogram count) and their total milliseconds
(CodeGenerator.compileTime), printed next to the timings: a trial that
compiles is paying codegen, not execution.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from repcheck_data_integration_spark import registry  # noqa: E402
from repcheck_data_integration_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def compile_stats(spark) -> tuple[int, float]:
    """(Janino compiles so far, their total ms) in this JVM."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return n, ns / 1e6


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default=None, help="suffix for plan files; omit to skip plan capture")
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--plans-dir", default="plans/r10")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    registry.load_all_modules()
    spark = get_spark("qprof")
    # JVM/codegen warmup
    spark.range(1000).selectExpr("sum(id)").collect()

    results: dict[str, float] = {}
    for name in args.names:
        fn = registry.QUERIES[name]
        if args.tag:
            df = fn(spark, SF_DIR)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            os.makedirs(args.plans_dir, exist_ok=True)
            out = os.path.join(args.plans_dir, f"{name}_{args.tag}.txt")
            with open(out, "w") as f:
                f.write(txt)
            print(f"# plan -> {out}", file=sys.stderr)
        # warmup run at sf0.001 (codegen compile for this plan shape)
        try:
            drain(fn(spark, "/root/testdata/sf0.001"))
        except Exception as e:
            print(f"# warmup {name} skipped: {e}", file=sys.stderr)
        trials = []
        compiles = []
        for _ in range(args.trials):
            spark.sparkContext.setJobDescription(f"qprof:{name}")
            n0, ms0 = compile_stats(spark)
            t0 = time.time()
            drain(fn(spark, SF_DIR))
            trials.append(round(time.time() - t0, 3))
            n1, ms1 = compile_stats(spark)
            compiles.append(f"{n1 - n0}/{ms1 - ms0:.0f}ms")
        spark.sparkContext.setJobDescription(None)
        results[name] = min(trials)
        print(
            f"# {name}: min {min(trials)}s trials {trials} compiles {compiles}",
            file=sys.stderr,
        )
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
