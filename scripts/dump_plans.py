"""Dump .explain("formatted") for headline queries to plans/<tag>/.

Usage:
    SPARK_GRAFT_SF_DIR=<tables> python scripts/dump_plans.py <tag> before [name ...]
    SPARK_GRAFT_SF_DIR=<tables> python scripts/dump_plans.py <tag> after  [name ...]

``<tag>`` names the output directory (e.g. ``r13``); each query's plan
lands in ``plans/<tag>/<name>_<before|after>.txt``. With no names,
dumps every headline query. Plans are captured at $SPARK_GRAFT_SF_DIR
(the parquet tables ``bench.py`` reads) without executing the query
(planning only), so a dump run does not perturb bench numbers.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from dbd_datawarehouse_scraper_spark import get_spark  # noqa: E402
from dbd_datawarehouse_scraper_spark.queries import QUERIES  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or [n for n in HEADLINE if n in QUERIES]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        sys.exit("set SPARK_GRAFT_SF_DIR to the parquet tables to plan against")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"dump-plans-{suffix}")
    for name in names:
        df = QUERIES[name].builder(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
