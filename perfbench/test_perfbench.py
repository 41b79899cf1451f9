"""Self-tests of the benchmark itself.

    python -m pytest perfbench -q

- the netflix CSV generator is byte-reproducible per seed, differs
  across seeds and carries every dirty-value class;
- the star-schema generator is reproducible;
- the timed action (a ``noop``-sink write) keeps every operator of each
  mix query's own optimized plan, where ``count()`` would not;
- ``run.py --smoke`` runs every workload once and every output matches
  its oracle;
- outside a full checkout the benchmark fails fast and prints no result.
"""

from __future__ import annotations

import csv
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
from oracle import files_digest  # noqa: E402
from workloads import QUERY_MIX, SMOKE, WORKLOADS, noop_write  # noqa: E402


def _csv_bytes(cache, seed, rows, drop=0):
    path = os.path.join(
        inputs.netflix_csv(str(cache), seed, rows, drop), "netflix_titles.csv"
    )
    with open(path, "rb") as f:
        return f.read()


def test_netflix_csv_is_reproducible_per_seed(tmp_path):
    a = _csv_bytes(tmp_path / "a", 7, 3000)
    assert a == _csv_bytes(tmp_path / "b", 7, 3000)
    assert a != _csv_bytes(tmp_path / "c", 8, 3000)
    assert a != _csv_bytes(tmp_path / "d", 7, 3000, drop=1)


def test_netflix_csv_has_every_dirty_class(tmp_path):
    text = _csv_bytes(tmp_path, 3, 3000).decode()
    rows = list(csv.reader(text.splitlines()))
    header, body = rows[0], rows[1:]
    assert header == inputs.NETFLIX_HEADER
    assert all(len(r) == 12 for r in body)
    col = {name: [r[i] for r in body] for i, name in enumerate(header)}
    assert any("," in c for c in col["country"])  # multi-country lists
    assert any('"' in c for c in col["country"])  # embedded quotes
    assert any('"' in t and "," in t for t in col["title"])  # quotes + commas
    assert any(y and not y.isdigit() for y in col["release_year"])  # dirty
    assert any(y and not re.sub(r"\D", "", y) for y in col["release_year"])  # garbage
    assert {"74 min", "INVALID", ""} & set(col["rating"])  # invalid ratings
    assert "Telenovelas" in col["listed_in"]  # unmatched genre -> Other
    assert any(r[3] == "" and r[6] and r[6] in inputs._COUNTRIES for r in body)  # shifted
    mean_desc = sum(map(len, col["description"])) / len(body)
    assert 80 < mean_desc < 250


def test_star_schema_is_reproducible(tmp_path):
    dirs = [inputs.star_schema(str(tmp_path / d), SMOKE["sf"]) for d in "ab"]
    digests = {
        files_digest([os.path.join(d, f"{t}.parquet") for t in inputs.TABLES])
        for d in dirs
    }
    assert len(digests) == 1


@pytest.fixture(scope="module")
def spark():
    from etl_onprem_to_cloud_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-tests",
        extra_conf={"spark.sql.ui.explainMode": "extended"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _operators(tree: str) -> set[str]:
    """Operator names of a printed logical plan tree."""
    names = set()
    for line in tree.splitlines():
        m = re.match(r"[\s:|+\-]*([A-Za-z]+)", line)
        if m:
            names.add(m.group(1))
    return names


def _last_optimized_plan(spark) -> str:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    last = max(
        (execs.apply(i) for i in range(execs.length())),
        key=lambda e: e.executionId(),
    )
    desc = last.physicalPlanDescription()
    return desc.split("== Optimized Logical Plan ==")[1].split("== Physical Plan ==")[0]


@pytest.mark.parametrize("name", QUERY_MIX)
def test_timed_action_keeps_query_operators(spark, tmp_path, name):
    from etl_onprem_to_cloud_spark.pinned import release_pinned
    from etl_onprem_to_cloud_spark.queries import QUERIES

    sf_dir = inputs.star_schema(str(tmp_path), SMOKE["sf"])
    df = QUERIES[name].fn(spark, sf_dir)
    want = _operators(df._jdf.queryExecution().optimizedPlan().toString())
    noop_write(df)
    timed = _operators(_last_optimized_plan(spark))
    assert want <= timed, f"{name}: noop plan lost {sorted(want - timed)}"
    if name == "q_window_running_sum":
        assert "Window" in timed
        df.count()  # the action the benchmark must not use
        assert "Window" not in _operators(_last_optimized_plan(spark))
    release_pinned()


def test_smoke_runs_every_workload_and_checks_outputs():
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, out.stderr[-3000:]
    assert result["attempted"] == SMOKE["drops"] + len(QUERY_MIX)
    for w in WORKLOADS:
        assert result["metrics"][f"{w}.pass_cpu_s"]["value"] > 0


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
