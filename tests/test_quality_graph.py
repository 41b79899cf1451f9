"""Unit tests for operators/quality.py (expectation checks),
operators/graph.py (fixed-point PageRank), and the portable rounding
helper backing the round-3 mining queries."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_onprem_to_cloud_spark.functions.numeric import portable_round
from etl_onprem_to_cloud_spark.operators import quality as Q
from etl_onprem_to_cloud_spark.operators.graph import (
    SCALE,
    duck_pagerank_sql,
    pagerank_fixed_point,
)
from etl_onprem_to_cloud_spark.queries._util import duck_pround


class TestQualityChecks:
    def test_predicate_report_counts_violations(self, spark):
        df = spark.createDataFrame(
            [("a", 1), ("b", None), (None, 3), ("z", 99)],
            "name string, v int",
        )
        rep = Q.predicate_report(
            df,
            [
                Q.completeness("name.complete", "name"),
                Q.in_set("name.in_set", "name", ["a", "b", "z"]),
                Q.in_range("v.in_range", "v", 0, 10),
            ],
        ).collect()
        by_name = {r["check"]: r for r in rep}
        assert by_name["name.complete"]["violations"] == 1
        assert by_name["name.in_set"]["violations"] == 1  # the NULL row
        # NULL v and v=99 both violate the range
        assert by_name["v.in_range"]["violations"] == 2
        assert all(r["total"] == 4 for r in rep)
        assert not by_name["v.in_range"]["passed"]

    def test_uniqueness_counts_every_duplicated_row(self, spark):
        df = spark.createDataFrame([(1,), (1,), (2,), (3,), (3,), (3,)], "k int")
        row = Q.uniqueness_report(df, "k.unique", ["k"]).collect()[0]
        # Deequ semantics: all rows of a duplicated key violate (2 + 3)
        assert row["violations"] == 5
        assert row["total"] == 6
        assert not row["passed"]

    def test_referential_orphans(self, spark):
        child = spark.createDataFrame([(1,), (2,), (9,)], "fk int")
        parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
        row = Q.referential_report(child, "fk.ref", "fk", parent, "pk").collect()[0]
        assert row["violations"] == 1
        assert row["total"] == 3
        assert not row["passed"]


class TestFixedPointPageRank:
    def _ranks(self, spark, edges, iterations=8):
        e = spark.createDataFrame(edges, "src string, dst string")
        return {
            r["node"]: r["rank"]
            for r in pagerank_fixed_point(e, iterations=iterations).collect()
        }

    def test_symmetric_pair_has_equal_ranks(self, spark):
        ranks = self._ranks(spark, [("a", "b"), ("b", "a")])
        assert ranks["a"] == ranks["b"]

    def test_hub_outranks_leaves(self, spark):
        # star: all leaves point at hub and back (undirected star)
        edges = []
        for leaf in ["l1", "l2", "l3", "l4"]:
            edges += [(leaf, "hub"), ("hub", leaf)]
        ranks = self._ranks(spark, edges)
        assert all(ranks["hub"] > ranks[f"l{i}"] for i in range(1, 5))
        leaf_vals = {ranks[f"l{i}"] for i in range(1, 5)}
        assert len(leaf_vals) == 1  # symmetry

    def test_total_mass_bounded_by_scale(self, spark):
        edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")]
        ranks = self._ranks(spark, edges)
        # fixed-point floor division only loses mass, never creates it
        assert 0 < sum(ranks.values()) <= SCALE

    def test_matches_unrolled_duckdb_twin(self, spark):
        edges = [
            ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
            ("c", "d"), ("d", "c"), ("a", "d"), ("d", "a"),
            ("a", "c"), ("c", "a"),
        ]
        spark_ranks = self._ranks(spark, edges, iterations=5)
        values = ", ".join(f"('{s}', '{d}')" for s, d in edges)
        sql = duck_pagerank_sql(
            f"SELECT src, dst FROM (VALUES {values}) AS t(src, dst)",
            iterations=5,
        )
        duck_ranks = dict(duckdb.connect().execute(sql).fetchall())
        assert spark_ranks == duck_ranks

    def test_empty_edge_list_yields_empty_ranks(self, spark):
        e = spark.createDataFrame([], "src string, dst string")
        out = pagerank_fixed_point(e)
        assert out.columns == ["node", "rank"]
        assert out.schema["rank"].dataType.simpleString() == "bigint"
        assert out.collect() == []


class TestPortableRound:
    @pytest.mark.parametrize("x,n", [(68.92875, 4), (0.5, 0), (1.23456785, 6)])
    def test_spark_and_duck_agree_on_boundaries(self, spark, x, n):
        sv = spark.range(1).select(
            portable_round(F.lit(x), n).alias("r")
        ).collect()[0]["r"]
        # CAST: DuckDB parses bare decimal literals as DECIMAL; the
        # helper's contract is a DOUBLE input expression.
        dv = duckdb.connect().execute(
            f"SELECT {duck_pround(f'CAST({x!r} AS DOUBLE)', n)}"
        ).fetchone()[0]
        assert sv == dv
        assert math.isclose(sv, round(x, n), abs_tol=10**-n)


class TestKCenterGreedy:
    def test_selects_extremes_on_a_line(self, spark):
        # points on a line: 0, 1, 10; seed = min id (the point at 0),
        # farthest is 10, then 1 (dist to {0,10} is 1.0)
        df = spark.createDataFrame(
            [(0, [0.0]), (1, [1.0]), (2, [10.0])],
            "vec_id bigint, embedding array<float>",
        )
        from etl_onprem_to_cloud_spark.operators.coreset import k_center_greedy

        rows = k_center_greedy(df, k=3).orderBy("step").collect()
        assert [(r["step"], r["id"]) for r in rows] == [(0, 0), (1, 2), (2, 1)]
        assert rows[1]["dist"] == 100.0  # (10-0)^2
        assert rows[2]["dist"] == 1.0    # min((1-0)^2, (1-10)^2)

    def test_matches_duckdb_unrolled_twin(self, spark, sf_dir):
        import duckdb

        from etl_onprem_to_cloud_spark.operators.coreset import (
            duck_k_center_sql,
            k_center_greedy,
        )
        from etl_onprem_to_cloud_spark.sources.io import read_parquet

        def fr(x):  # the oracle's floor-based half-up rounding
            return math.floor(x * 1e6 + 0.5) / 1e6

        emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
        got = [
            (r["step"], r["id"], fr(r["dist"]))
            for r in k_center_greedy(emb, k=5).orderBy("step").collect()
        ]
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        want = list(con.execute(duck_k_center_sql(5)).fetchall())
        assert got == want

    def test_empty_input_raises(self, spark):
        from etl_onprem_to_cloud_spark.operators.coreset import k_center_greedy

        df = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
        with pytest.raises(ValueError, match="empty input"):
            k_center_greedy(df, k=3)

    def test_k_exceeding_rows_stops_early_without_duplicates(self, spark):
        # 3 rows, two of them identical vectors; k=6 must yield 3
        # DISTINCT ids (the duplicate vector is a distinct point at
        # distance 0) and stop, never re-picking the seed.
        df = spark.createDataFrame(
            [(0, [0.0]), (1, [5.0]), (2, [5.0])],
            "vec_id bigint, embedding array<float>",
        )
        from etl_onprem_to_cloud_spark.operators.coreset import k_center_greedy

        rows = k_center_greedy(df, k=6).orderBy("step").collect()
        ids = [r["id"] for r in rows]
        assert sorted(ids) == [0, 1, 2]
        assert len(set(ids)) == len(ids)

    def test_sampled_rate_one_matches_exact(self, spark, sf_dir):
        from etl_onprem_to_cloud_spark.operators.coreset import k_center_greedy
        from etl_onprem_to_cloud_spark.sources.io import read_parquet

        emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
        exact = [
            (r["step"], r["id"])
            for r in k_center_greedy(emb, k=5).orderBy("step").collect()
        ]
        sampled = [
            (r["step"], r["id"])
            for r in k_center_greedy(emb, k=5, sample_rate=1.0)
            .orderBy("step")
            .collect()
        ]
        assert exact == sampled

    def test_sampled_matches_duckdb_twin(self, spark, sf_dir):
        import duckdb

        from etl_onprem_to_cloud_spark.operators.coreset import (
            duck_k_center_sql,
            k_center_greedy,
        )
        from etl_onprem_to_cloud_spark.sources.io import read_parquet

        def fr(x):
            return math.floor(x * 1e6 + 0.5) / 1e6

        emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
        got = [
            (r["step"], r["id"], fr(r["dist"]))
            for r in k_center_greedy(emb, k=5, sample_rate=0.25)
            .orderBy("step")
            .collect()
        ]
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        want = list(con.execute(duck_k_center_sql(5, sample_rate=0.25)).fetchall())
        assert got == want
        # the subsample must actually bite: selection differs from exact
        exact = [
            (r["step"], r["id"])
            for r in k_center_greedy(emb, k=5).orderBy("step").collect()
        ]
        assert [(s, i) for s, i, _ in got] != exact


class TestPortableRoundBulkParity:
    def test_500_random_doubles_round_identically(self, spark):
        """Bulk cross-engine check: the explicit floor-based rounding
        must agree on arbitrary doubles (native round() provably does
        not -- the seasonal query caught 68.92875 at 4dp)."""
        import random

        rng = random.Random(42)
        xs = [rng.uniform(0, 1000) for _ in range(480)] + [
            68.92875, 0.5, 1.00005, 2.5, 123.456785, 0.000015,
        ]
        sdf = spark.createDataFrame([(x,) for x in xs], "x double")
        got = [
            r["r"]
            for r in sdf.select(
                portable_round(F.col("x"), 4).alias("r")
            ).orderBy("x").collect()
        ]
        con = duckdb.connect()
        want = [
            r[0]
            for r in con.execute(
                "SELECT " + duck_pround("x", 4) + " AS r FROM (SELECT "
                "unnest(?::DOUBLE[]) AS x) ORDER BY x",
                [xs],
            ).fetchall()
        ]
        assert got == want
