#!/usr/bin/env python3
"""Derives expected_counts.json: the row count of every query_sweep query on
the benchmark's generated base tables, computed by running each query's
DuckDB oracle SQL (SparkEntry.oracleSql) with the locally installed duckdb.

    python3 perfbench/derive_expected.py

Run it after changing the query subset, its scale factor or the generator,
and commit the result. The benchmark itself never runs DuckDB.
"""
import json
import sys
import tempfile
from pathlib import Path

import duckdb

import run

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def main():
    digest = run.source_digest()
    cp = run.build(digest)
    with tempfile.TemporaryDirectory(dir=run.OUT) as tmp:
        out = Path(tmp) / "oracle.json"
        cmd = run.java(cp, tmp, "perfbench.OracleDump",
                       "--data", run.OUT / "data" / digest, "--out", out)
        if run.run_child(cmd, run.CHECKOUT, sys.stderr, 600) != 0:
            run.die("oracle dump failed", 4)
        dump = json.loads(out.read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet/*.parquet')"
                    % (t, dump["dir"], t))
    counts = {}
    for name, sql in sorted(dump["sql"].items()):
        counts[name] = con.execute("SELECT count(*) FROM (%s)" % sql).fetchone()[0]
        print(name, counts[name])
    (run.HERE / "expected_counts.json").write_text(json.dumps(
        {"sf": dump["sf"], "source": "DuckDB %s over SparkEntry.oracleSql" % duckdb.__version__,
         "counts": counts}, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
