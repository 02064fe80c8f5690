"""Write fingerprints.json: the expected result of every benchmark query
that a run cannot check against its DuckDB oracle (no oracle, or one slower
than a run).

    python3 perfbench/record_fingerprints.py

Run from the root of a checkout. The input set is copied and verified as
run.py does it. Each query runs once through ``session.get_spark()``; a
query that has an oracle is first checked against it with
``oracle.compare_query``, without a time limit, and the script stops if they
differ. Only results that passed are written.
"""

from __future__ import annotations

import json
import os
import sys

import workloads
from run import inputs_dir
from worker import canon_bag, fingerprint

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    from sealnet_etl_spark.oracle import compare_query
    from sealnet_etl_spark.registry import QUERIES, all_queries
    from sealnet_etl_spark.session import get_spark

    sf_dir = inputs_dir()
    fns = all_queries()
    names = sorted(
        {q for qs in workloads.WORKLOADS.values() for q in qs
         if QUERIES[q].oracle is None or q in workloads.SLOW_ORACLES}
    )
    spark = get_spark()
    out = {}
    for name in names:
        if QUERIES[name].oracle is not None:
            report = compare_query(spark, name, sf_dir)
            if not report["match"]:
                raise SystemExit(f"{name}: oracle check {report['status']}")
            print(f"{name}: matches its oracle", file=sys.stderr)
        df = fns[name](spark, sf_dir)
        out[name] = fingerprint(df.schema.simpleString(), canon_bag(df.columns, df.collect()))
    spark.stop()
    with open(os.path.join(HERE, "fingerprints.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
