#!/usr/bin/env python
"""Capture `.explain("formatted")` for every headline bench query into
plans/<round>/<query>_<tag>.txt (round e.g. r18, tag = before/after),
under the SAME session profile bench.py uses (shuffle=8, tune_local_fast,
shm scratch) so the committed plans are the plans the bench actually ran.

Usage: python scripts/cap_plans.py <round> [before|after] [query ...]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    rnd = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    from bench import HEADLINE
    from gcs2postgres_spark.queries import REGISTRY
    from gcs2postgres_spark.session import (
        get_spark,
        local_shuffle_to_shm,
        tune_local_fast,
    )

    names = sys.argv[3:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    local_shuffle_to_shm()
    spark = get_spark(f"cap-plans-{rnd}")
    tune_local_fast(spark, sf_dir)
    outdir = REPO / "plans" / rnd
    outdir.mkdir(parents=True, exist_ok=True)
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (outdir / f"{name}_{tag}.txt").write_text(plan)
        print(f"wrote {name}_{tag}.txt ({len(plan.splitlines())} lines)")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
