"""Simulate the correctness driver: vanilla SparkSession (no engine
confs), every ``queries()`` entry vs its ``oracle_sql()`` DuckDB twin
at sf0.01, value-hash comparison with columns sorted by name.

Canonicalization is shared with tests/util.py and replicates the
driver's PANDAS-based, dtype-SENSITIVE hash: Spark side fetched via
``.toPandas()``, DuckDB side via ``.df()``, floats exact (no
rounding), int64 != float64, array cells raise. An uncast DuckDB
``SUM(BIGINT)`` (HUGEINT -> pandas float64) therefore reds here the
same way it reds on the driver — the old fetchall()+round(9) sim
masked exactly that for three rounds (eval_lang_id_report).

Usage: python tools/driver_sim.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import sys
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tests.util import canon_rows, duck_result, spark_result  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def result_hash(cols, rows):
    return hashlib.sha256(
        repr(canon_rows(cols, rows)).encode()
    ).hexdigest()[:16]


def main():
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    # deliberately vanilla: the driver does not apply engine confs
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    from easy_alterator_spark.sources import TABLE_NAMES

    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{name}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    report, n_red = {}, 0
    for name in sorted(queries):
        if ONLY and name not in ONLY:
            continue
        rec = {}
        try:
            df = queries[name](spark, SF_DIR)
            s_cols, s_rows = spark_result(df)
            rec["spark_rows"] = len(s_rows)
            if name in oracles:
                d_cols, d_rows = duck_result(con, oracles[name])
                rec["oracle_rows"] = len(d_rows)
                rec["rows_match"] = len(s_rows) == len(d_rows)
                rec["schema_match"] = sorted(s_cols) == sorted(d_cols)
                rec["hash_match"] = result_hash(s_cols, s_rows) == result_hash(
                    d_cols, d_rows
                )
                if not all(
                    (rec["rows_match"], rec["schema_match"], rec["hash_match"])
                ):
                    n_red += 1
            else:
                rec["err"] = "no_oracle"
        except Exception:
            rec["err"] = traceback.format_exc()[-600:]
            n_red += 1
        report[name] = rec
        flag = (
            "OK"
            if rec.get("hash_match")
            else ("--" if rec.get("err") == "no_oracle" else "RED")
        )
        print(f"{flag} {name} {json.dumps({k: v for k, v in rec.items() if k != 'err'})}")
        if flag == "RED" and rec.get("err"):
            print(rec["err"])
    print(f"\nRED={n_red} total={len(report)}")
    with open("/tmp/driver_sim.json", "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
