"""Regenerate ``expected_queries.json``: the query_mix query set with each
query's row count and checksum on the query_mix tables, taken from its
DuckDB oracle (Spark's own result where a query has none).  Spark's
result is summarized too, with the oracle's column kinds, and every
disagreement is printed.

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench import checksum, tables  # noqa: E402
from perfbench.run import pin_environment  # noqa: E402

EXPECTED = HERE / "expected_queries.json"
# headline queries, at least one from each query module, chosen so that
# a pass of first runs takes about 15 s on a 4-core machine
QUERY_SET = (
    "a1_tpch_q1", "ann_cosine_topk", "asof_purchase_last_click",
    "dedup_exact", "dedup_semantic", "er_fuzzy_match",
    "event_sessionization", "fm_predict", "pipeline_dataprep",
    "text_stats", "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue", "win_session_30m",
)


def main() -> int:
    work = HERE / "_work" / f"expected-{os.getpid()}"
    cpus = pin_environment(work)
    try:
        import duckdb

        import fmx.queries as Q
        from fmx.sources import TABLES
        from perfbench.harness import shutdown, start_session

        data = tables.write_tables(work / "tables")
        con = duckdb.connect()
        for name in TABLES:
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{data}/{name}.parquet'")
        spark = start_session(work, cpus)
        out, mismatched = {}, []
        registry = Q.all_queries()
        for name in QUERY_SET:
            spec = registry[name]
            assert spec.headline, name
            result = spec.fn(spark, str(data)).toPandas()
            got = checksum.summarize(result)
            if spec.oracle:
                want = checksum.summarize(con.sql(spec.oracle).df())
                diffs = checksum.compare(
                    checksum.summarize(result, checksum.kinds_of(want)), want)
                if diffs:
                    mismatched.append(name)
                    print(f"{name}: spark != oracle: {diffs}")
            else:
                want = got
            out[name] = {"source": "oracle" if spec.oracle else "spark",
                         **want}
            print(f"{name}: {want['rows']} rows", flush=True)
        shutdown()
        EXPECTED.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
        print(f"wrote {EXPECTED}; {len(mismatched)} mismatched: {mismatched}")
        return 1 if mismatched else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
