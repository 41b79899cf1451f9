"""Build (or reuse) one workload's inputs and oracle-expected results.

Runs in its own process before the timed run, so input generation and
DuckDB oracles stay out of the set-up time and out of the Spark driver
process.  Prints one JSON object: the input locations, their sizes and
the expected (rows, md5) of every request.

    python3 perfbench/prepare.py --workload query_mix --seed 1 --work .perfbench
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import inputs  # noqa: E402
from oracle import ExpectedCache, duck_hash, duck_views, files_digest  # noqa: E402
from workloads import QUERY_MIX, SMOKE, WORKLOADS  # noqa: E402


def prepare_queries(cache: ExpectedCache, cache_dir: str, sf: float) -> dict:
    from etl_onprem_to_cloud_spark.queries import QUERIES

    sf_dir = inputs.star_schema(cache_dir, sf)
    paths = [os.path.join(sf_dir, f"{t}.parquet") for t in inputs.TABLES]
    digest = files_digest(paths)
    con = duckdb.connect()
    duck_views(con, sf_dir, inputs.TABLES)
    expected = {
        q: cache.get(q, QUERIES[q].oracle, digest,
                     lambda q=q: duck_hash(con, QUERIES[q].oracle))
        for q in QUERY_MIX
    }
    con.close()
    return {
        "sf_dir": sf_dir,
        "input_bytes": sum(os.path.getsize(p) for p in paths),
        "input_rows": sum(pq.ParquetFile(p).metadata.num_rows for p in paths),
        "expected": expected,
    }


def prepare_drop(cache: ExpectedCache, cache_dir: str, seed: int, rows: int,
                 drop: int) -> dict:
    from etl_onprem_to_cloud_spark.queries import QUERIES, netflix

    csv_dir = inputs.netflix_csv(cache_dir, seed, rows, drop)
    csv_path = os.path.join(csv_dir, "netflix_titles.csv")
    digest = files_digest([csv_path])
    con = duckdb.connect()

    def expect(name: str, sql: str):
        # The registry's netflix oracles, pointed at this drop's CSV.
        return cache.get(name, sql, digest, lambda: duck_hash(
            con, sql.replace(netflix.FIXTURE_CSV, csv_path)))

    clean = expect("etl.clean", QUERIES["q_netflix_clean"].oracle)
    report = expect("etl.report", QUERIES["q_netflix_report"].oracle)
    rows_in = con.execute(
        f"SELECT count(*) FROM read_csv('{csv_path}', header=true, all_varchar=true)"
    ).fetchone()[0]
    con.close()
    return {
        "csv_dir": csv_dir,
        "input_bytes": os.path.getsize(csv_path),
        "expected": {
            "rows_in": rows_in,
            "rows_out": clean[0],
            "clean": clean,
            "report": report,
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    cfg = SMOKE if a.smoke else WORKLOADS[a.workload]
    cache_dir = os.path.join(a.work, "cache")
    os.makedirs(cache_dir, exist_ok=True)
    cache = ExpectedCache(os.path.join(cache_dir, "oracle_hashes.json"))
    if a.workload == "etl_netflix":
        drops = [
            prepare_drop(cache, cache_dir, a.seed, cfg["csv_rows"], k)
            for k in range(cfg["drops"])
        ]
        out = {
            "drops": drops,
            "input_bytes": sum(d["input_bytes"] for d in drops),
            "input_rows": sum(d["expected"]["rows_in"] for d in drops),
        }
    else:
        out = prepare_queries(cache, cache_dir, cfg["sf"])
    cache.save()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
