"""Dump .explain("formatted") for every declared query into plans/<tag>/.

Usage: python tools/explain_dump.py <tag> [suffix] [query ...]

Writes plans/<tag>/<query>_<suffix>.txt (suffix defaults to "before").
Driver-side only — no jobs run (explain compiles the plan without
executing it), so this is safe to run alongside other work.

Expression ids (``#123``) and exchange counters (``[plan_id=45]``) are
numbered session-wide, so they are replaced with fixed tokens: a plan
change in one query then leaves every later query's dump byte-identical.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_SESSION_COUNTERS = ((re.compile(r"#\d+"), "#N"), (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"))


def normalize_plan(plan: str) -> str:
    """Replace session-wide ids with fixed tokens so dumps diff cleanly."""
    for pattern, token in _SESSION_COUNTERS:
        plan = pattern.sub(token, plan)
    return plan


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r10"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])

    import __spark_entry__ as entrymod
    from rml_utils_processor_ts_spark import get_spark

    spark = get_spark("explain_dump")
    spark.sparkContext.setLogLevel("ERROR")

    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    queries = {**entrymod.queries(), **entrymod.EXTRA_QUERIES}
    if not only or "pages_pipeline" in only:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from bench_extra import _pages_path, _pages_pipeline

        from rml_utils_processor_ts_spark.sources.pages import synth_pages

        n_pages = int(os.environ.get("RML_BENCH_PAGES", "800000"))
        synth_pages(spark, n_pages).write.mode("overwrite").parquet(_pages_path())
        queries["pages_pipeline"] = lambda s, sf: _pages_pipeline(s, sf)
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, SF_DIR)
            plan = normalize_plan(
                df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            )
        except Exception as e:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {e}"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
