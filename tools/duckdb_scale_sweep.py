#!/usr/bin/env python3
"""Generic DuckDB half of the ScaleFixture K-sweep: runs committed
oracle SQL for the named queries against the SAME parquet the Spark
half (graft.tools.ScaleFixture) measured — the base directory
(default: the sf0.1 tables of TESTDATA.md) for K=1, its cached replica
/tmp/graft_scale/v<ver>_k<K>_<base tag>/ for replicated K — so any query's
disposition can be two-sided without a bespoke tool per round
(q81q43_sweep.py / r14_sweep.py generalized).

Usage: duckdb_scale_sweep.py [--base DIR] <dir-with-oracle_sql.json> <Ks-csv> <query...>
e.g.:  duckdb_scale_sweep.py /tmp/verify_out 1,16,64 q83_bigram_lm q99_term_spectrum
"""
import json
import re
import sys
import time

import duckdb

FIXTURE_VERSION = 1  # ScaleFixture.Version

args = sys.argv[1:]
base_dir = "/root/testdata/sf0.1"
if args[:1] == ["--base"]:
    base_dir, args = args[1], args[2:]
outdir = args[0]
ks = [int(k) for k in args[1].split(",")]
queries = args[2:]


def fixture_dir(k):
    """ScaleFixture.fixtureDir: the cached K-replica of base_dir."""
    tag = re.sub(r"[^A-Za-z0-9]+", "_", base_dir).removeprefix("_")
    return f"/tmp/graft_scale/v{FIXTURE_VERSION}_k{k}_{tag}"


oracle = json.load(open(f"{outdir}/oracle_sql.json"))
missing = [q for q in queries if q not in oracle]
assert not missing, f"no oracle for: {missing}"

TABLES = ("documents", "embeddings", "events")

print("| K | " + " | ".join(f"duckdb {q} s" for q in queries) + " |")
print("|---|" + "|".join("---" for _ in queries) + "|")
for k in ks:
    base = base_dir if k == 1 else fixture_dir(k)
    con = duckdb.connect()
    # Out-of-core spill (the r14_sweep.py lesson: without a
    # temp_directory DuckDB cannot spill and big-K oracles OOM).
    con.execute("PRAGMA temp_directory='/tmp/duckdb_spill'")
    con.execute("PRAGMA memory_limit='100GB'")
    for t in TABLES:
        glob = f"{base}/{t}.parquet" if k == 1 else f"{base}/{t}.parquet/*.parquet"
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')"
            )
        except duckdb.IOException:
            pass  # fixture may not carry every table

    def run_once(sql):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        return time.perf_counter() - t0

    cells = []
    for name in queries:
        sql = oracle[name]
        try:
            run_once(sql)  # warmup
            cells.append(f"{min(run_once(sql), run_once(sql)):.2f}")
        except duckdb.OutOfMemoryException:
            cells.append("OOM")
        except duckdb.Error:
            # E.g. CatalogException when a view creation above was
            # silently skipped (fixture without that table) — record an
            # ERR cell, matching the OOM-cell convention, instead of
            # killing the whole sweep mid-table.
            cells.append("ERR")
    print(f"| {k} | " + " | ".join(cells) + " |")
    con.close()
