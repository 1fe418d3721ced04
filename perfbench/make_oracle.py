#!/usr/bin/env python3
"""Computes the stored oracle answers the benchmark checks against.

Usage (from the repository root, after one `run.py` build):
  python3 perfbench/make_oracle.py

For every query of the dedup_graph workload it takes the DuckDB oracle SQL
registered beside the query (`SparkEntry.oracleSql`), runs it in DuckDB
over perfbench/data/sf0.01, and writes the answer to
perfbench/oracle/answers/<query>.parquet and its row count to
perfbench/oracle/counts.json. Rerun only when the data or an oracle changes.
"""
import json
import os
import subprocess

import duckdb

import run

# dedup_graph: an iterative op with eager construct jobs (q106), pair
# expansion and prefix filtering (q187, q26), and two ops sharing the
# pinned event-edge frame (q126, q134).
DEDUP_GRAPH = [
    "q106_pagerank", "q187_prefix_jaccard", "q26_simhash_pairs",
    "q126_degree_profile", "q134_triangles"]

TABLES = ["events", "documents"]


def main():
    run.build()
    cp = run.CLASSES + os.pathsep + os.path.join(run.spark_home(), "jars", "*")
    sql = json.loads(subprocess.check_output(
        ["java", "-cp", cp, "perfbench.OracleSql"] + DEDUP_GRAPH).decode().splitlines()[-1])
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
                    % (t, run.DATA, t))
    answers = os.path.join(run.ORACLE, "answers")
    os.makedirs(answers, exist_ok=True)
    counts = {}
    for q in DEDUP_GRAPH:
        df = con.execute(sql[q]).df()
        df.to_parquet(os.path.join(answers, q + ".parquet"), index=False,
                      compression="zstd")
        counts[q] = len(df)
    with open(os.path.join(run.ORACLE, "counts.json"), "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
