"""Partitioning-determinism gate for the driver-certified window.

The driver certifies queries on ITS OWN Spark session (core count and
shuffle-partition count unknown to us). A query whose output depends on
partition order — float aggregation order flipping a last ulp under
full-precision repr() hashing, ties in a top-k broken by arrival order,
LIMIT without a total order — can be green in the local mirror and red
on the driver. This script runs every window query under two deliberately
different configurations (local[4]/sp=4 vs local[32]/sp=64) and compares
canonical (order-insensitive, full-precision) outputs between the two
Spark runs. Any diff is a determinism bug regardless of what the oracle
says; a row that raises under either configuration fails too, and an
unknown name is rejected before any Spark session starts.

Usage: python scripts/check_determinism.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_contract import rows_to_set
from ecokg_spark.contract import QUERIES, _CERT_WINDOW
from ecokg_spark.session import get_spark


def run_all(master, shuffle_partitions, sf, names):
    spark = get_spark(master=master, shuffle_partitions=shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in names:
        try:
            sdf = QUERIES[name](spark, sf)
            out[name] = (tuple(sorted(sdf.columns)),
                         rows_to_set(sdf.columns, [tuple(r) for r in sdf.collect()]))
        except Exception as e:  # noqa: BLE001
            out[name] = ("ERROR", str(e))
    spark.stop()
    return out


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or list(_CERT_WINDOW)
    unknown = sorted(set(names) - set(QUERIES))
    if unknown:
        sys.exit(f"unknown query name(s): {', '.join(unknown)}")
    a = run_all("local[4]", 4, sf, names)
    b = run_all("local[32]", 64, sf, names)
    failures = []
    for name in names:
        if "ERROR" in (a[name][0], b[name][0]):
            err = a[name][1] if a[name][0] == "ERROR" else b[name][1]
            failures.append((name, err))
            print(f"ERROR {name}: {err[:300]}")
        elif a[name] != b[name]:
            detail = ""
            if a[name][0] == b[name][0]:
                ra, rb = set(a[name][1]), set(b[name][1])
                only_a = list(ra - rb)[:2]
                only_b = list(rb - ra)[:2]
                detail = f" only@4={only_a} only@32={only_b}"
            failures.append((name, detail))
            print(f"NONDETERMINISTIC {name}{detail}")
        else:
            print(f"ok {name} ({len(a[name][1])} rows)")
    print(f"\n{len(failures)} failures (nondeterministic or erroring) / "
          f"{len(names)}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
