"""Pin the result digests the benchmark checks.

    python3 perfbench/pin.py

For every query of every workload this runs the query twice in one pinned
session (cold, then with warm module caches) and requires the same digest
both times; it then requires the result to match the query's DuckDB oracle
over the same vendored tables, with the repository's oracle harness
(``tests/oracle_harness.py``). Only digests that pass
both checks are written to ``perfbench/digests.json``; the script exits 1 if
any query fails either check.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.client import DATA_DIR, DIGESTS  # noqa: E402
from perfbench.digest import materialize  # noqa: E402
from perfbench.run import pinned_env  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def main() -> int:
    run_dir = ROOT / ".perfbench_run" / f"pin-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    env = pinned_env(run_dir)
    os.environ.clear()
    os.environ.update(env)
    os.chdir(run_dir / "cwd")
    try:
        return pin()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def pin() -> int:
    import duckdb
    import pyspark

    from facebook_ad_library_data_pipeline_spark.catalog import TABLES
    from facebook_ad_library_data_pipeline_spark.registry import load_all
    from facebook_ad_library_data_pipeline_spark.session import get_spark
    from tests.oracle_harness import assert_matches_oracle

    spark = get_spark("perfbench-pin")
    registry = load_all()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR}/{t}.parquet')")

    names = sorted({q for w in WORKLOADS.values() for q in w.queries})
    digests, bad = {}, []
    for name in names:
        q = registry[name]
        first = materialize(q.fn(spark, DATA_DIR), name)
        df = q.fn(spark, DATA_DIR)
        second = materialize(df, name)
        if first != second:
            bad.append(f"{name}: digest differs between runs ({first} vs {second})")
            continue
        if q.oracle is None:
            bad.append(f"{name}: no oracle to check the digest against")
            continue
        try:
            assert_matches_oracle(df, q.oracle, con)
        except AssertionError as e:
            bad.append(f"{name}: differs from its DuckDB oracle: {e}")
            continue
        digests[name] = first
        print(f"{name}: {first}")
    spark.stop()
    DIGESTS.write_text(json.dumps({
        "data": str(Path(DATA_DIR).relative_to(ROOT)),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "digests": digests,
    }, indent=1, sort_keys=True) + "\n")
    for b in bad:
        print(f"NOT PINNED {b}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
