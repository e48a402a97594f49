"""DQ engine: each check type incl. the unknown-type and absent-column
paths (ref: operators/data_quality_operator.py:77-117), single-pass fusion,
and report (not exception) semantics."""

from __future__ import annotations

import pytest

from data_engineering_etl_self_service_spark.operators.quality import (
    Check,
    run_checks,
)

pytestmark = pytest.mark.pipeline


def _df(spark):
    return spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "b")], "id long, name string"
    )


def test_min_row_count(spark):
    df = _df(spark)
    assert run_checks(df, [{"check_type": "min_row_count", "threshold": 3}]).passed
    assert not run_checks(df, [{"check_type": "min_row_count", "threshold": 4}]).passed


def test_required_columns(spark):
    df = _df(spark)
    ok = run_checks(df, [{"check_type": "required_columns", "columns": ["id", "name"]}])
    assert ok.passed
    bad = run_checks(df, [{"check_type": "required_columns", "columns": ["id", "email"]}])
    assert not bad.passed
    assert "email" in bad.failures[0]


def test_unique_column(spark):
    df = _df(spark)
    assert run_checks(df, [{"check_type": "unique_column", "column": "id"}]).passed
    assert not run_checks(df, [{"check_type": "unique_column", "column": "name"}]).passed


def test_unique_column_absent_fails(spark):
    # reference parity: absent column FAILS the check (ref :112-114)
    df = _df(spark)
    rep = run_checks(df, [{"check_type": "unique_column", "column": "nope"}])
    assert not rep.passed


def test_unknown_check_reported_not_fatal(spark):
    df = _df(spark)
    rep = run_checks(df, [{"check_type": "row_has_soul"}])
    assert not rep.passed
    assert "unknown" in rep.failures[0]


def test_approx_unique_tier(spark):
    df = _df(spark)
    rep = run_checks(df, [{"check_type": "unique_column", "column": "id", "approx": True}])
    assert rep.passed


def test_mixed_suite_single_pass(spark):
    df = _df(spark)
    rep = run_checks(
        df,
        [
            {"check_type": "min_row_count", "threshold": 1},
            {"check_type": "unique_column", "column": "id"},
            {"check_type": "required_columns", "columns": ["id"]},
        ],
    )
    assert rep.passed and len(rep.results) == 3


def test_check_name_formatting():
    assert Check.from_dict({"check_type": "min_row_count", "threshold": 10}).name == "min_row_count(10)"
    assert (
        Check.from_dict({"check_type": "required_columns", "columns": ["a", "b"]}).name
        == "required_columns(a,b)"
    )


def test_extension_checks_fused_single_pass(spark):
    """non_null / value_range / accepted_values evaluate in the same single
    agg job and report precise violation detail."""
    from data_engineering_etl_self_service_spark.operators.quality import (
        run_checks,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "b"), (3, 99.0, "zz"), (4, 5.0, None)],
        "id long, price double, tag string",
    )
    report = run_checks(
        df,
        [
            {"check_type": "non_null", "column": "price",
             "max_null_fraction": 0.25},
            {"check_type": "non_null", "column": "price"},
            {"check_type": "value_range", "column": "price", "min": 0,
             "max": 50},
            {"check_type": "accepted_values", "column": "tag",
             "values": ["a", "b"]},
            {"check_type": "value_range", "column": "nope", "min": 0},
        ],
    )
    by_name = {r.check.name + r.detail[:4]: r for r in report.results}
    got = [(r.check.check_type, r.passed) for r in report.results]
    assert got == [
        ("non_null", True),        # 1/4 nulls ≤ 0.25
        ("non_null", False),       # default max_null_fraction=0
        ("value_range", False),    # 99 > 50
        ("accepted_values", False),  # 'zz' (NULL is allowed)
        ("value_range", False),    # absent column fails, like the reference
    ]
    assert "violations=1" in report.results[2].detail
    assert "not found" in report.results[4].detail


def test_accepted_values_null_is_allowed(spark):
    from data_engineering_etl_self_service_spark.operators.quality import (
        run_checks,
    )

    df = spark.createDataFrame([("a",), (None,)], "tag string")
    report = run_checks(
        df, [{"check_type": "accepted_values", "column": "tag", "values": ["a"]}]
    )
    assert report.passed


def test_profile_single_pass_stats(spark):
    from data_engineering_etl_self_service_spark.operators.quality import profile

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "a", None), (3, None, 4.5), (3, "b", 4.5)],
        "id int, s string, x double",
    )
    got = {r.col_name: r for r in profile(df).collect()}
    assert got["id"].n_rows == 4 and got["id"].n_distinct == 3
    assert got["s"].n_nonnull == 3 and got["s"].n_distinct == 2
    assert got["s"].min_num is None  # strings have no numeric min
    assert got["x"].min_num == 1.5 and got["x"].max_num == 4.5
    assert got["x"].n_nonnull == 3


def test_foreign_key_check_pass_and_fail(spark, tmp_path_factory):
    from data_engineering_etl_self_service_spark.operators.quality import run_checks

    ref_dir = str(tmp_path_factory.mktemp("fk_ref"))
    spark.createDataFrame([(1,), (2,), (3,)], "k long").write.mode(
        "overwrite"
    ).parquet(ref_dir)
    df = spark.createDataFrame(
        [(10, 1), (11, 2), (12, None)], "id long, fk long"
    )
    ok = run_checks(
        df,
        [{"check_type": "foreign_key", "column": "fk",
          "ref_path": ref_dir, "ref_column": "k"}],
    )
    assert ok.passed  # NULL fk is not an orphan (SQL FK semantics)

    bad = df.union(spark.createDataFrame([(13, 99)], "id long, fk long"))
    rep = run_checks(
        bad,
        [{"check_type": "foreign_key", "column": "fk",
          "ref_path": ref_dir, "ref_column": "k"}],
    )
    assert not rep.passed
    assert "orphan_keys=1" in rep.failures[0]

    absent = run_checks(
        df,
        [{"check_type": "foreign_key", "column": "nope",
          "ref_path": ref_dir, "ref_column": "k"}],
    )
    assert not absent.passed


def test_freshness_check(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "2025-07-28 10:00:00"), (2, "2025-07-28 23:30:00")],
        "id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    fresh = run_checks(
        df,
        [{"check_type": "freshness", "column": "ts",
          "as_of": "2025-07-29T00:00:00", "max_lag_seconds": 3600}],
    )
    assert fresh.passed  # 30 min behind as_of, within 1 h

    stale = run_checks(
        df,
        [{"check_type": "freshness", "column": "ts",
          "as_of": "2025-07-30T00:00:00", "max_lag_seconds": 3600}],
    )
    assert not stale.passed
    assert "lag_s=88200" in stale.failures[0]

    empty = run_checks(
        df.filter("id < 0"),
        [{"check_type": "freshness", "column": "ts",
          "as_of": "2025-07-29T00:00:00"}],
    )
    assert not empty.passed  # no data at all is maximally stale

    absent = run_checks(
        df, [{"check_type": "freshness", "column": "nope", "as_of": "2025-07-29T00:00:00"}]
    )
    assert not absent.passed


def test_split_by_checks_row_level_quarantine(spark):
    """Row-level split: clean rows keep flowing, offenders divert with a
    _violations array naming every check each row broke."""
    from data_engineering_etl_self_service_spark.operators.quality import (
        split_by_checks,
    )

    df = spark.createDataFrame(
        [
            (1, 50.0, "click"),
            (2, None, "view"),          # non_null(value)
            (3, -5.0, "purchase"),      # value_range
            (4, 9.0, "teleport"),       # accepted_values
            (5, -1.0, "warp"),          # both range and accepted
        ],
        "id long, value double, event_type string",
    )
    good, bad = split_by_checks(
        df,
        [
            {"check_type": "non_null", "column": "value"},
            {"check_type": "value_range", "column": "value", "min": 0},
            {
                "check_type": "accepted_values",
                "column": "event_type",
                "values": ["click", "view", "purchase"],
            },
        ],
    )
    assert [r.id for r in good.orderBy("id").collect()] == [1]
    b = {r.id: set(r._violations) for r in bad.collect()}
    assert b[2] == {"non_null(value)"}
    assert b[3] == {"value_range(value)"}
    assert b[4] == {"accepted_values(event_type)"}
    assert b[5] == {
        "value_range(value)",
        "accepted_values(event_type)",
    }
    assert "_violations" not in good.columns


def test_split_by_checks_rejects_table_level_check(spark):
    import pytest

    from data_engineering_etl_self_service_spark.operators.quality import (
        split_by_checks,
    )

    df = spark.range(3)
    with pytest.raises(ValueError, match="no per-row form"):
        split_by_checks(df, [{"check_type": "min_row_count", "threshold": 1}])


def test_quantile_range_check_gates_distribution(spark):
    """The statistical DQ gate: median inside bounds passes, a silent
    100x unit change fails, absent column fails cleanly — all riding
    the same fused single-pass agg."""
    from data_engineering_etl_self_service_spark.operators.quality import (
        run_checks,
    )

    df = spark.range(1000).selectExpr("id", "CAST(id AS DOUBLE) / 10 AS price")
    rep = run_checks(
        df,
        [
            {"check_type": "quantile_range", "column": "price",
             "q": 0.5, "min": 40, "max": 60},
            {"check_type": "quantile_range", "column": "price",
             "q": 0.99, "min": 90},
        ],
    )
    assert rep.passed, rep.failures

    cents = df.selectExpr("id", "price * 100 AS price")  # unit slip
    rep2 = run_checks(
        cents,
        [{"check_type": "quantile_range", "column": "price",
          "q": 0.5, "min": 40, "max": 60}],
    )
    assert not rep2.passed and "q0.5" in rep2.failures[0]

    rep3 = run_checks(
        df, [{"check_type": "quantile_range", "column": "nope", "min": 0}]
    )
    assert not rep3.passed and "not found" in rep3.failures[0]


def test_observed_metrics_match_the_fused_job(spark, tmp_path):
    """Every observable check type reports the same from metrics observed
    on a write as from its own fused aggregate job; exact unique_column
    and foreign_key are the ones that cannot be observed."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from data_engineering_etl_self_service_spark.operators.quality import (
        check_metrics,
        observable,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "a", "2025-07-28 10:00:00"), (2, None, "b", None),
         (3, 99.0, "zz", "2025-07-28 23:30:00")],
        "id long, price double, tag string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    checks = [
        {"check_type": "min_row_count", "threshold": 3},
        {"check_type": "required_columns", "columns": ["id", "nope"]},
        {"check_type": "unique_column", "column": "id", "approx": True},
        {"check_type": "non_null", "column": "price"},
        {"check_type": "value_range", "column": "price", "min": 0, "max": 50},
        {"check_type": "accepted_values", "column": "tag", "values": ["a", "b"]},
        {"check_type": "freshness", "column": "ts",
         "as_of": "2025-07-29T00:00:00", "max_lag_seconds": 3600},
        {"check_type": "quantile_range", "column": "price", "min": 0, "max": 50},
        {"check_type": "non_null", "column": "absent"},
        {"check_type": "row_has_soul"},
    ]
    assert all(observable(c) for c in checks)
    assert not observable({"check_type": "unique_column", "column": "id"})
    assert not observable({"check_type": "foreign_key", "column": "id"})

    obs = Observation()
    df.observe(obs, *check_metrics(df, checks, count_rows=True)).write.parquet(
        str(tmp_path / "out")
    )
    seen = run_checks(df, checks, count_rows=True, observed=obs.get)
    fused = run_checks(df, checks, count_rows=True)
    assert seen.n_rows == fused.n_rows == 3

    def flat(rep):
        return [(r.check.name, r.passed, r.detail) for r in rep.results]

    assert flat(seen) == flat(fused)
    assert [p for _, p, _ in flat(seen)] == [
        True, False, True, False, False, False, True, True, False, False,
    ]
