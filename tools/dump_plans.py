"""Capture ``explain('formatted')`` for the bench HEADLINE queries into
``plans/<round>/<query>_<tag>.txt`` (tag = before/after), per an
optimization round's evidence contract. Usage:

    python tools/dump_plans.py r10 before [query ...]

Defaults to every HEADLINE query when none are named. Uses the same
fixtures/session as bench.py so the captured plan is the bench's plan.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    rnd, tag = sys.argv[1], sys.argv[2]
    import bench
    from hudi_delete_view_spark import queries as registry
    from hudi_delete_view_spark.session import get_spark

    registry.load_all()
    names = sys.argv[3:] or bench.HEADLINE

    spark = get_spark(f"{rnd}-plans")
    spark.sparkContext.setLogLevel("ERROR")
    # same fixture warmup as bench.py so lake queries see built tables
    from hudi_delete_view_spark.sources.fixtures import (
        build_lineitem_cow,
        build_lineitem_evolved,
        build_lineitem_merged,
        build_orders_mor,
    )

    build_lineitem_cow(spark, SF_DIR)
    build_orders_mor(spark, SF_DIR)
    build_lineitem_evolved(spark, SF_DIR)
    build_lineitem_merged(spark, SF_DIR)

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", rnd,
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        fn = registry.QUERIES[name]
        try:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # noqa: BLE001 — record the failure
            text = f"EXPLAIN FAILED: {exc!r}\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"# wrote {path} ({len(text)} bytes)", file=sys.stderr)


if __name__ == "__main__":
    main()
