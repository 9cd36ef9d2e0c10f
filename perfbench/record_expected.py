"""Record the batch workload's expected fingerprints, once.

    python3 perfbench/record_expected.py

Runs the package's DuckDB oracle sweep (``oracle.run_all``) over the
benchmark's data first and refuses to record anything unless every
query passes; then fingerprints each benchmarked entry exactly as the
workload does and writes ``perfbench/expected.json``. Re-run only when
the data or an entry's declared result changes.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


def main() -> int:
    from batch import DATA_DIR, ENTRIES, EXPECTED, fingerprint_frame

    from dataingestiontohana_spark.oracle import run_all
    from dataingestiontohana_spark.plans.bundles import build_registry
    from dataingestiontohana_spark.session import get_spark

    spark = get_spark("perfbench-record")
    res = run_all(spark, DATA_DIR)
    bad = {k: v for k, v in res.items() if not v.startswith("PASS")}
    if bad:
        for k, v in bad.items():
            print(f"{k}: {v}", file=sys.stderr)
        return 1
    queries, _ = build_registry()
    entries = {}
    for name in ENTRIES:
        row = fingerprint_frame(queries[name](spark, DATA_DIR)).collect()[0]
        entries[name] = [row["rows"], row["sum_hash"], row["xor_hash"]]
    spark.stop()
    with open(EXPECTED, "w") as fh:
        json.dump({"data": os.path.relpath(DATA_DIR, HERE),
                   "oracle": f"{len(res)}/{len(res)} PASS",
                   "entries": entries}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
