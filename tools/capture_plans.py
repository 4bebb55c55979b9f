#!/usr/bin/env python
"""Capture `.explain("formatted")` for the bench headline queries (plus
any extra names given on the command line) into plans/<tag>/<name>_<suffix>.txt.

Usage:
    python tools/capture_plans.py --tag r13 --suffix before [names...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from multi_sensor_data_pipeline_for_robotics__spark import get_session


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="extra query names")
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--only", action="store_true", help="capture only the named queries")
    args = ap.parse_args()

    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.tag,
    )
    os.makedirs(outdir, exist_ok=True)

    spark = get_session(app_name="capture_plans")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = args.names if args.only else HEADLINE + [n for n in args.names if n not in HEADLINE]
    for name in names:
        try:
            df = qs[name](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 — capture what we can
            plan = f"ERROR: {type(e).__name__}: {e}"
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} @ {args.sf} ({args.suffix})\n")
            f.write(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
