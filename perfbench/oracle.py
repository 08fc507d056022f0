"""DuckDB oracle check for the traced batch pass: each query's Spark result
(dumped as parquet by the cold pass) must equal its `SparkEntry.oracleSql`
twin run in DuckDB over the same tables. The comparison rules (rows,
bit-equal floats, type families) are the repo's own, imported from
tools/compare.py; only the DuckDB connection is set up here, so that every
file stays inside the benchmark's work directory.
"""
import importlib.util
import json
from pathlib import Path

import duckdb

TABLES = ("events", "documents", "embeddings")
_spec = importlib.util.spec_from_file_location(
    "compare", Path(__file__).resolve().parent.parent / "tools" / "compare.py")
compare = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(compare)


def check(data_dir, dump_dir, spill_dir):
    """Return {query: [differences or error]} for every dumped query."""
    sql = json.loads(Path(dump_dir, "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{spill_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    result = {}
    for name, query in sorted(sql.items()):
        try:
            spark_tbl = con.sql(f"SELECT * FROM '{dump_dir}/{name}/*.parquet'").arrow()
            oracle_tbl = con.sql(query).arrow()
            result[name] = (compare.compare(name, spark_tbl.to_pandas(), oracle_tbl.to_pandas())
                            + compare.dtype_issues(spark_tbl.schema, oracle_tbl.schema))
        except Exception as e:  # a missing dump or a failing oracle leg fails the check
            result[name] = [f"error: {e}"]
    con.close()
    return result
