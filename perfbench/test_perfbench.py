"""Tests of the benchmark's own correctness machinery.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.bench import end_to_end, make_input, measure  # noqa: E402
from perfbench.checks import digest, oracle_problems  # noqa: E402
from perfbench.stealclock import Interval, steady_seconds  # noqa: E402


def _frame(rows):  # noqa: ANN001, ANN202
    return pd.DataFrame(rows, columns=["frame_id", "n"])


def test_digest_ignores_row_order_but_not_values_or_duplicates():
    a = _frame([(1, 10), (2, 20), (3, 30)])
    assert digest(a) == digest(a.iloc[::-1])
    assert digest(a) != digest(_frame([(1, 10), (2, 21), (3, 30)]))
    assert digest(a) != digest(_frame([(1, 10), (2, 20), (3, 30), (3, 30)]))


def test_planted_wrong_result_fails_the_sample():
    good = {"q_a": _frame([(1, 10)]), "q_b": _frame([(2, 20)])}
    expected = {n: digest(f) for n, f in good.items()}
    planted = {"q_a": good["q_a"], "q_b": _frame([(2, 99)])}
    latencies, attempted, failed = measure(
        ["q_a", "q_b"], 3, lambda n: (0.5, planted[n]), expected
    )
    assert (attempted, failed) == (6, 3)
    assert latencies == {"q_a": [0.5] * 3, "q_b": []}


def test_raising_op_and_failed_setup_count_as_failures():
    def sample(name):  # noqa: ANN001, ANN202
        if name == "q_a":
            raise RuntimeError("boom")
        return 1.0, _frame([(1, 1)])

    _, attempted, failed = measure(["q_a", "q_b"], 2, sample, {"q_b": None})
    assert (attempted, failed) == (4, 4)


def test_end_to_end_metrics():
    m = end_to_end({"q_a": [1.0, 3.0, 2.0], "q_b": [4.0]}, setup_s=7.0)
    assert m["setup_s"] == 7.0
    assert m["op_p50_sum_s"] == pytest.approx(6.0)
    assert m["op_geomean_s"] == pytest.approx((2.0 * 4.0) ** 0.5)
    assert m["ops_per_s"] == pytest.approx(4 / 10.0)


def test_steady_seconds_takes_out_the_stolen_share():
    assert steady_seconds(10.0, busy=600, steal=400) == pytest.approx(6.0)
    assert steady_seconds(10.0, busy=600, steal=0) == 10.0
    assert steady_seconds(10.0, busy=0, steal=0) == 10.0
    wall, steady = Interval().stop()
    assert 0.0 <= steady <= wall


@pytest.fixture(scope="module")
def oracle_env(tmp_path_factory):  # noqa: ANN001, ANN201
    import duckdb

    from neo4j_dynagraph_spark import get_spark

    data_dir = str(tmp_path_factory.mktemp("perfbench_input"))
    make_input(data_dir, seed=7)
    spark = get_spark("perfbench-test")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{data_dir}/events.parquet'")
    yield spark, con, data_dir
    con.close()


@pytest.mark.parametrize("name", ["q6_active_days", "q10_degree"])
def test_oracle_check_passes_and_catches_a_planted_wrong_result(oracle_env, name):  # noqa: ANN001
    from neo4j_dynagraph_spark.queries import REGISTRY

    spark, con, data_dir = oracle_env
    pdf = REGISTRY[name].fn(spark, data_dir).toPandas()
    assert oracle_problems(spark, con, data_dir, name, pdf) == []
    wrong = pdf.copy()
    col = wrong.columns[-1]
    wrong.loc[0, col] = wrong.loc[0, col] + 1
    assert oracle_problems(spark, con, data_dir, name, wrong)
    assert oracle_problems(spark, con, data_dir, name, pdf.iloc[1:])
