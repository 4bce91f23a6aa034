#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks.

    python3 perfbench/selftest.py          # comparison only, a few seconds
    python3 perfbench/selftest.py --jvm    # also the end-to-end injections

The first part feeds the oracle comparison a right and a wrong result.
With --jvm it runs sql_batch and cdc_stream with --inject-wrong (one batch
result gets a duplicated row; the expected CDC state gets one changed key)
and requires that each run reports correct=false and at least one failure.
"""
import json
import os
import subprocess
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import run  # noqa: E402


def comparison():
    sql = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
    with tempfile.TemporaryDirectory() as d:
        data, results = os.path.join(d, "data"), os.path.join(d, "results")
        datagen.write(data, 7)
        os.makedirs(os.path.join(results, "right"))
        os.makedirs(os.path.join(results, "wrong"))
        region = pq.read_table(os.path.join(data, "region.parquet"))
        pq.write_table(region, os.path.join(results, "right", "part-0.parquet"))
        names = region.column("r_name").to_pylist()
        names[2] = names[2].lower()
        pq.write_table(region.set_column(1, "r_name", pa.array(names)),
                       os.path.join(results, "wrong", "part-0.parquet"))
        with open(os.path.join(results, "oracle_sql.json"), "w") as fh:
            json.dump({"right": sql, "wrong": sql}, fh)
        bad = run.oracle_mismatches(data, results)
    assert set(bad) == {"wrong"}, bad
    print("comparison: a changed value is caught, an equal result passes")


def injected(workload):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", "1", "--seconds", "2", "--inject-wrong"],
                         capture_output=True, text=True, timeout=400)
    assert out.returncode == 0, out.stderr[-2000:]
    r = json.loads(out.stdout.strip().splitlines()[-1])
    assert r["correct"] is False and r["failed"] >= 1, r
    print(f"{workload}: injected wrong result caught ({r['failed']} of {r['attempted']} failed)")


if __name__ == "__main__":
    comparison()
    if "--jvm" in sys.argv[1:]:
        injected("sql_batch")
        injected("cdc_stream")
