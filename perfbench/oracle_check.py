#!/usr/bin/env python3
"""Check recorded registry results against the DuckDB oracle.

Maintenance tool for the registry_sweep panel (perfbench/src/main/resources/
registry_panel.tsv). First dump the results with the benchmark's recorder:

    java ... perfbench.RegistryRecord <work dir> <out dir> [name prefixes]

which generates the corpus under <work dir>/registry_data, runs each query,
writes its result to <out dir>/<name> and its digest to <out dir>/digests.tsv.
Then:

    python3 perfbench/oracle_check.py <work dir> <out dir>

evaluates each query's oracle SQL over the same corpus with the comparison of
tools/check.py and prints `name rows xor sum ms` for every query whose result
equals its oracle's; only such lines go into the panel file.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import compare  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events".split()


def main(work, out):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{work}/registry_data/{t}.parquet/*.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    ok = bad = 0
    with open(os.path.join(out, "digests.tsv")) as f:
        rows = [l.rstrip("\n").split("\t") for l in f if l.strip()]
    for name, n, x, s, ms in rows:
        if n == "ERROR" or name not in oracle:
            continue
        try:
            got = pd.concat([pd.read_parquet(p) for p in sorted(glob.glob(f"{out}/{name}/*.parquet"))])
            msg = compare(got, con.sql(oracle[name]).df())
        except Exception as e:  # an oracle that cannot run is not a pass
            msg = f"error: {str(e)[:200]}"
        if msg is None:
            ok += 1
            print(f"{name}\t{n}\t{x}\t{s}\t{ms}")
        else:
            bad += 1
            print(f"# FAIL {name}: {msg}", file=sys.stderr)
    print(f"# {ok} equal to the oracle, {bad} not", file=sys.stderr)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
