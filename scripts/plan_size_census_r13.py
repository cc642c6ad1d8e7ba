"""Round-13 mega-plan audit (r12 verdict item 5 / task 3): build every
registry query's DataFrame (no execution) and count its
explain('formatted') lines plus an Exchange census. Plans >2,000 lines
mean Catalyst re-optimization is a real per-action cost and a
localCheckpoint/lineage-truncation pass is due.

Usage: python scripts/plan_size_census_r13.py [threshold]
Prints one line per query over threshold (default 1500), then a JSON
summary of the top 30.
"""
from __future__ import annotations

import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_streaming_practicum_spark.registry import all_queries
from spark_streaming_practicum_spark.session import build_session
from spark_streaming_practicum_spark.functions.pins import release_pins

def main() -> None:
    thr = int(sys.argv[1]) if len(sys.argv) > 1 else 1500
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(app_name="ssp-plan-census")
    sizes = {}
    for name, qd in sorted(all_queries().items()):
        try:
            df = qd.fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            n = buf.getvalue().count("\n")
        except Exception as e:  # noqa: BLE001 - census must cover the rest
            print(f"ERROR {name}: {e}", flush=True)
            continue
        sizes[name] = n
        if n >= thr:
            print(f"{n:7d}  {name}", flush=True)
        release_pins()
    top = dict(sorted(sizes.items(), key=lambda kv: -kv[1])[:30])
    print(json.dumps({"sf_dir": sf_dir, "threshold": thr, "top30": top}))
    spark.stop()

if __name__ == "__main__":
    main()
