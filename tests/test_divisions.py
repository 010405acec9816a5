"""Division metadata lookup (SURVEY §2.2 P17): the driver-side column list
and its distributed twin."""

from azure_medicine_data_engineering_spark.operators.divisions import (
    division_table,
    get_columns_of_divisions,
    get_columns_of_divisions_df,
)

DIVISIONS = [
    ("suv", ["suv_focus", "suv_background", "tbr"]),
    ("labs", ["glucose", "crp", "suv_focus"]),
    ("dates", ["exam_date", "surgery_date", "glucose"]),
]


def test_overlapping_divisions_dedupe_in_first_seen_order(spark):
    div = division_table(spark, DIVISIONS)
    got = get_columns_of_divisions(div, ["labs", "suv", "dates"])
    assert got == ["suv_focus", "suv_background", "tbr", "glucose", "crp",
                   "exam_date", "surgery_date"]
    assert get_columns_of_divisions(div, ["labs"]) == ["glucose", "crp", "suv_focus"]
    distributed = {r.columnName for r in get_columns_of_divisions_df(div, ["labs", "suv"]).collect()}
    assert distributed == set(get_columns_of_divisions(div, ["labs", "suv"]))


def test_unknown_names_return_empty(spark):
    div = division_table(spark, DIVISIONS)
    assert get_columns_of_divisions(div, ["nope"]) == []
    assert get_columns_of_divisions(div, []) == []


def test_lookup_runs_one_job(spark):
    sc = spark.sparkContext
    div = division_table(spark, DIVISIONS)
    group = "test-divisions-lookup"
    sc.setJobGroup(group, "get_columns_of_divisions")
    try:
        get_columns_of_divisions(div, ["suv", "labs"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
