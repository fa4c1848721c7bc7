"""Compare a `graft.Verify` dump against its DuckDB oracles.

    python3 tools/oracle_compare.py <verifyOut> <sfDir> [q1,q2,...]

`graft.Verify <sfDir> <verifyOut>` writes each gate's engine output as
parquet under `<verifyOut>/<gate>` plus `<verifyOut>/oracle_sql.json`.
This script runs every oracle in DuckDB over the fixture parquet files of
`<sfDir>` and prints, per gate, the row count and order-independent digest
of the engine output and of the oracle output (the digest of
`perfbench/check.py`: columns sorted by name, values in their pandas string
form, rows sorted), then a MATCH / MISMATCH verdict. Gates without an oracle
print their engine side only. The exit status is 1 when any gate mismatches
or fails.

Two dumps (say, of a parent commit and of a change) can be compared by
diffing the printed lines.
"""

import glob
import json
import os
import sys

import duckdb

sys.dont_write_bytecode = True  # leave no cache file beside check.py
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "perfbench"))
from check import TABLES, digest  # noqa: E402


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    out, sf = argv[1], argv[2]
    only = set(argv[3].split(",")) if len(argv) > 3 else None
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    names = sorted(n for n in os.listdir(out)
                   if os.path.isdir(os.path.join(out, n)))
    names = sorted(set(names) | set(oracle))
    if only is not None:
        names = [n for n in names if n in only]
    bad = 0
    for g in names:
        files = glob.glob(os.path.join(out, g, "*.parquet"))
        try:
            got, eng = None, "engine=none"
            if files:
                got = con.execute("SELECT * FROM read_parquet("
                                  f"'{out}/{g}/*.parquet')").fetchdf()
                eng = "engine=%d %s" % digest(got)
            if g not in oracle:
                print(f"{g} NO-ORACLE {eng}")
                continue
            want = con.execute(oracle[g]).fetchdf()
            ora = "oracle=%d %s" % digest(want)
            ok = got is not None and set(got.columns) == set(want.columns) \
                and eng[len("engine="):] == ora[len("oracle="):]
            bad += not ok
            print(f"{g} {'MATCH' if ok else 'MISMATCH'} {eng} {ora}")
        except Exception as e:  # a compare that cannot run is a failure
            bad += 1
            print(f"{g} ERROR {type(e).__name__}: {str(e).splitlines()[0]}")
    print(f"# {len(names)} gates, {bad} mismatched or failed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
