#!/usr/bin/env python
"""Driver-mirror oracle sweep: run EVERY registry query on Spark and its
DuckDB oracle at the given scale (default sf0.01 — the driver's grading
scale) and compare rows / schema / dtypes / values exactly as
``tests/test_queries_vs_duckdb.py`` does at sf0.001. One JSON line per
query with its Spark wall (``spark_s``) and DuckDB oracle wall
(``duck_s``), then a summary line with the ten slowest queries (the
measured grade cost that orders ``__spark_entry__._GRADE_ORDER``).

Usage: python jobs/sweep_oracle.py [sf_dir]
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    import duckdb

    import __spark_entry__ as entry
    from crawler_spark.session import get_spark
    # Single source of truth for the comparison: import the pytest
    # module's _compare/_norm so this sweep can never drift from the
    # in-repo parity suite.
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tests"))
    from test_queries_vs_duckdb import _compare

    spark = get_spark(app_name="sweep-oracle", cores=16, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    qs, sqls = entry.queries(), entry.oracle_sql()
    t_all = time.time()
    recs = []
    for name, fn in qs.items():
        rec = {"q": name, "ok": False, "spark_s": 0.0, "duck_s": 0.0}
        if name not in sqls:
            rec["err"] = "no oracle SQL"
        else:
            try:
                t0 = time.time()
                sdf = fn(spark, SF).toPandas()
                t1 = time.time()
                odf = con.execute(sqls[name]).df()
                rec["spark_s"] = round(t1 - t0, 2)
                rec["duck_s"] = round(time.time() - t1, 2)
                if len(sdf) == 0:
                    raise AssertionError(f"{name}: empty result")
                _compare(name, sdf, odf)
                rec.update(ok=True, rows=len(sdf))
            except Exception as exc:  # noqa: BLE001
                rec["err"] = str(exc)[:300]
        recs.append(rec)
        print(json.dumps(rec, ensure_ascii=False), flush=True)
    n_pass = sum(r["ok"] for r in recs)
    n_fail = len(recs) - n_pass
    slowest = sorted(recs, key=lambda r: -(r["spark_s"] + r["duck_s"]))[:10]
    print(json.dumps({"sf": SF, "pass": n_pass, "fail": n_fail,
                      "total_s": round(time.time() - t_all, 1),
                      "top10": [[r["q"], r["spark_s"], r["duck_s"]] for r in slowest]}),
          flush=True)
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
