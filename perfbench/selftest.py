#!/usr/bin/env python3
"""Self-test of the benchmark's output checker.

Takes the real outputs of the last calc run (running one first if there is
none), confirms the checker passes them, then checks copies with one value
changed and with one row dropped, of both the exported ledger and the
summary. The checker must report each copy as a failure.

Usage: python3 perfbench/selftest.py [--workload calc_sf0.01]
Exits 0 when every expectation holds.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

import check
import run


def last_run(workload):
    path = os.path.join(run.WORK, "runs", workload, "result.json")
    if not os.path.exists(path):
        subprocess.run([sys.executable, os.path.join(run.BENCH, "run.py"),
                        "--workload", workload, "--seed", "1",
                        "--seconds", "1", "--trace", "0"], check=True)
    with open(path) as f:
        return json.load(f)


def with_value_changed(t, column):
    vals = t.column(column).to_pylist()
    vals[0] = vals[0] + 100.0
    i = t.schema.get_field_index(column)
    return t.set_column(i, t.schema.field(i), pa.array(vals, t.schema.field(i).type))


def with_row_dropped(t):
    return t.slice(0, t.num_rows - 1)


def save(t, path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(t, os.path.join(path, "part-0.parquet"))
    return path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="calc_sf0.01")
    a = ap.parse_args()
    result = last_run(a.workload)
    p = [p for p in result["passes"] if p["label"] == "pass"][-1]
    data = result["data_dir"]
    con = check.connect(data, os.path.join(run.WORK, "tmp"))
    q90 = check.oracle(con, data, result["oracle_sql"]["q90_domain_pipeline"],
                       os.path.join(run.WORK, "oracle"))
    ledger = check.read_output(os.path.join(p["dir"], "ledger"))
    summary = check.read_output(os.path.join(p["dir"], "summary"))
    scratch = os.path.join(run.WORK, "selftest")

    def ledger_failures(t):
        return check.ledger_properties(
            con, save(t, os.path.join(scratch, "ledger")), q90, summary,
            p["total_rwa"])

    cases = [
        ("real ledger", ledger_failures(ledger), False),
        ("real summary", check.compare(summary, q90), False),
        ("ledger, one rwa changed",
         ledger_failures(with_value_changed(ledger, "rwa")), True),
        ("ledger, one row dropped",
         ledger_failures(with_row_dropped(ledger)), True),
        ("summary, one total_rwa changed",
         check.compare(with_value_changed(summary, "total_rwa"), q90), True),
        ("summary, one row dropped",
         check.compare(with_row_dropped(summary), q90), True),
    ]
    shutil.rmtree(scratch, ignore_errors=True)
    ok = True
    for name, failures, should_fail in cases:
        good = bool(failures) == should_fail
        ok &= good
        print(f"{'PASS' if good else 'FAIL'} {name}: "
              f"{'reported ' + '; '.join(failures) if failures else 'no failure reported'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
