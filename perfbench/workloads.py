"""The benchmark's workloads and the request each one issues.

A request has three timed phases and one untimed check:

- ``build``: the Python entry call -- a registered query's ``fn(spark,
  sf_dir)`` (which already runs its eager checkpoints, loop rounds and
  driver collects), or ``pipeline.run_netflix_pipeline`` (which runs
  both sinks and its two counts).
- ``execute``: the action -- a full ``noop``-sink write of the query
  result (never ``count()``, which lets Catalyst prune the plan), or
  collecting the pipeline's report.
- ``verify`` (untimed): hash the output and compare it with the DuckDB
  oracle's expected hash.
- ``release``: ``pinned.release_pinned()``, so no request reuses
  another's pinned cache.
"""

from __future__ import annotations

import glob
import os
import shutil

# query_mix: relational reports, iterative graph fixpoints and vector /
# text near-dup queries, one or more per layer the benchmark traces.
QUERY_MIX = (
    # relational reports (Ring B / Athena surface)
    "q01_pricing_summary",
    "q_window_running_sum",
    # iterative fixpoints: copurchase_edges + ckpt_partitioned + rounds
    "q_lpa_communities",
    # vector near-dup: SRP similarity join + star connected components,
    # MLlib bucketed random projection
    "q_semantic_dedup_clusters",
    "q_ml_brp_ann_topk",
)

# etl_netflix: each pass lands two seeded CSV drops, one pipeline run
# per drop.
#
# After the cold pass a run makes at least ``timed`` timed warm passes.
# The JIT is still speeding the code up through the first warm passes
# (etl_netflix passes 1-4 each used about 5 % less CPU than the one
# before), so every run times the same passes: the counts are fixed and
# outlast the benchmark's run length, and ``pass_cpu_s`` is the median
# of passes 1-3 (etl_netflix) or the mean of passes 1-2 (query_mix).
WORKLOADS = {
    "etl_netflix": {"drops": 2, "csv_rows": 25_000, "timed": 3},
    "query_mix": {"sf": 0.01, "timed": 2},
}
SMOKE = {"sf": 0.001, "drops": 2, "csv_rows": 1_000, "timed": 0}


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class QueryRequest:
    def __init__(self, name: str, sf_dir: str, expected: tuple[int, str]):
        self.name = name
        self.sf_dir = sf_dir
        self.expected = tuple(expected)
        self.result = None

    def build(self, spark):
        from etl_onprem_to_cloud_spark.queries import QUERIES

        self.result = QUERIES[self.name].fn(spark, self.sf_dir)

    def execute(self, spark):
        noop_write(self.result)

    def frames(self):
        return [self.result]

    def out_bytes(self) -> int:
        return 0  # the noop sink writes nothing

    def verify(self) -> str | None:
        from oracle import spark_hash

        got = spark_hash(self.result)
        if got != self.expected:
            return f"{self.name}: got rows/md5 {got}, oracle {self.expected}"
        return None

    def done(self):
        self.result = None


class EtlRequest:
    """One ``run_netflix_pipeline`` call over one CSV drop (Parquet and CSV
    sinks) plus collecting its report."""

    def __init__(self, drop: int, csv_dir: str, out_dir: str, expected: dict):
        self.name = f"etl_netflix[{drop}]"
        self.csv_dir = csv_dir
        self.pq_out = os.path.join(out_dir, "parquet")
        self.csv_out = os.path.join(out_dir, "csv")
        self.expected = expected
        self.res = None
        self.report = None

    def build(self, spark):
        from etl_onprem_to_cloud_spark.pipeline import run_netflix_pipeline

        for p in (self.pq_out, self.csv_out):
            shutil.rmtree(p, ignore_errors=True)
        self.res = run_netflix_pipeline(
            spark, self.csv_dir, parquet_out=self.pq_out, csv_out=self.csv_out
        )

    def execute(self, spark):
        self.report = self.res.report.collect()

    def frames(self):
        return [self.res.clean, self.res.report]

    def out_bytes(self) -> int:
        return dir_bytes(self.pq_out) + dir_bytes(self.csv_out)

    def verify(self) -> str | None:
        import duckdb
        from oracle import duck_hash, result_hash

        exp = self.expected
        problems = []
        if (self.res.rows_in, self.res.rows_out) != (exp["rows_in"], exp["rows_out"]):
            problems.append(
                f"rows in/out {self.res.rows_in}/{self.res.rows_out}, "
                f"oracle {exp['rows_in']}/{exp['rows_out']}"
            )
        report = result_hash(self.res.report.columns, [tuple(r) for r in self.report])
        if report != tuple(exp["report"]):
            problems.append(f"report {report}, oracle {exp['report']}")
        files = glob.glob(os.path.join(self.pq_out, "*.parquet"))
        con = duckdb.connect()
        try:
            landed = duck_hash(con, f"SELECT * FROM read_parquet({files!r})")
        finally:
            con.close()
        if landed != tuple(exp["clean"]):
            problems.append(f"landed parquet {landed}, oracle {exp['clean']}")
        return "; ".join(f"{self.name}: {p}" for p in problems) or None

    def done(self):
        self.res = None
        self.report = None
