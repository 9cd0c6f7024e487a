"""Ad-hoc driver-style oracle check: run named harness queries on Spark AND
their DuckDB twins, compare sorted rows (the driver's hash-compare shape).

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
Defaults: /root/testdata/sf0.001, all queries.
"""

import os
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
from pyspark.sql import SparkSession

from logtemplatecrawler_spark.plans.harness import ORACLES, QUERIES

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


SPILL_DIR = "/tmp/duckdb_spill"


def _duckdb_limits(spill_dir: str):
    """(memory, spill) caps in MiB: 60% of physical RAM (MemTotal) and 80%
    of the free disk under the spill directory."""
    mem_total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    os.makedirs(spill_dir, exist_ok=True)
    disk_free = shutil.disk_usage(spill_dir).free
    return int(mem_total * 0.6) >> 20, int(disk_free * 0.8) >> 20


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or list(QUERIES)
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    # quadratic twins (e.g. the within-cell semantic pair SQL) need room at
    # stress scale: let DuckDB spill to disk instead of dying in-memory,
    # within limits taken from this host rather than fixed sizes
    memory_mib, spill_mib = _duckdb_limits(SPILL_DIR)
    con.execute(f"SET temp_directory='{SPILL_DIR}'")
    con.execute(f"SET max_temp_directory_size='{spill_mib}MiB'")
    con.execute(f"SET memory_limit='{memory_mib}MiB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    failed = []
    for name in names:
        try:
            sdf = QUERIES[name](spark, sf).toPandas()
            if name not in ORACLES:
                print(f"{name}: rows={len(sdf)} (no oracle)")
                continue
            odf = con.execute(ORACLES[name]).fetchdf()
            scols, ocols = sorted(sdf.columns), sorted(odf.columns)
            if scols != ocols:
                raise AssertionError(f"schema mismatch {scols} vs {ocols}")
            s = sdf[scols].sort_values(scols, ignore_index=True).astype(str)
            o = odf[ocols].sort_values(ocols, ignore_index=True).astype(str)
            ok = s.shape == o.shape and (s.values == o.values).all()
            print(f"{name}: rows={len(s)}/{len(o)} match={bool(ok)}")
            if not ok:
                failed.append(name)
        except Exception as exc:  # noqa: BLE001 — report and continue
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            failed.append(name)
    if failed:
        print("FAILED:", failed)
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
