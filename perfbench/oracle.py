"""Compute and store batch_pack's expected results, once.

    python3 perfbench/oracle.py

Asks the engine for batch_pack's query list and their DuckDB oracles
(``SparkEntry.oracleSql``), runs each oracle over
the generated tables and writes the normalized result digest, row count and
oracle time to ``perfbench/expected_batch.json``.  Runs check against this
file instead of re-running the oracles, some of which take minutes.  Rerun
only when the generator or an oracle changes.
"""
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import digest  # noqa: E402
import run  # noqa: E402


def main():
    cp = build.build()
    run.ensure_data()
    out = run.fresh_dir("oracle")
    p = run.start_jvm(cp, "oracle_sql", out, [])
    if p.wait(timeout=300) != 0:
        raise SystemExit("could not dump the oracle SQL")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        dump = json.load(fh)
    sql = dump["sql"]
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(run.DATA)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(run.DATA, f)}')")
    expected = {}
    for q in dump["batch_pack"]:
        t0 = time.time()
        d, n = digest.digest_query(con, sql[q])
        expected[q] = {"digest": d, "rows": n, "oracle_s": round(time.time() - t0, 2)}
        print(q, expected[q], flush=True)
    with open(os.path.join(HERE, "expected_batch.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
