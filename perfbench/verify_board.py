"""Check every ``operator_mix`` board query against its DuckDB oracle and
record the digest of each verified result in ``board_digests.json``.

    python3 perfbench/verify_board.py

Run from the root of a source tree after a change that alters a board
query's output (the benchmark then reports a digest mismatch as a
failed op). Exits 1, and leaves the recorded digests alone, if any
query differs from its oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from run import setup_env  # noqa: E402


def main() -> int:
    root = os.path.dirname(HERE)
    work = os.path.join(root, ".perfbench_work", f"verify-{os.getpid()}")
    setup_env(work)

    import duckdb

    import __spark_entry__ as entry
    from boardgen import write_board_tables
    from common import start_spark, stop_spark
    from operator_mix import BOARD_SEED, DIGESTS, board, run_query
    from tools.check_entry import compare
    from tracing import Tracer

    sf_dir = os.path.join(work, "board")
    sizes = write_board_tables(sf_dir, BOARD_SEED)
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    oracle = entry.oracle_sql()
    con = duckdb.connect()
    for t in sizes:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf_dir}/{t}.parquet')")

    spark = start_spark(work, len(os.sched_getaffinity(0)))
    digests, failed = {}, 0
    try:
        for name in board():
            _c, _t, digest, got = run_query(spark, Tracer(False), name, sf_dir, "verify", collect=True)
            problems = compare(name, got, con.sql(oracle[name]).df())
            if problems:
                failed += 1
                print(f"FAIL {name}: " + "; ".join(problems[:4]))
            else:
                digests[name] = digest
                print(f"PASS {name} ({len(got)} rows)")
    finally:
        stop_spark(spark)
        con.close()
        shutil.rmtree(work, ignore_errors=True)
    if failed:
        print(f"{failed} board queries differ from their oracles; {DIGESTS} left unchanged")
        return 1
    with open(DIGESTS, "w") as f:
        json.dump({"board_seed": BOARD_SEED, "tables": sizes, "digests": digests}, f, indent=1)
        f.write("\n")
    print(f"{len(digests)} queries verified; digests written to {DIGESTS}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
