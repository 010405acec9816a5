"""CleaningSpec tests against a FIXTURES.md-style raw clinical table:
comma decimals, three boolean encodings, date strings, junk columns,
positional renames, NULL row gate. (Reference behavior:
studyGrScalaA.scala:11-125, contrGrScalaA.scala:13-54.)"""

import datetime

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from azure_medicine_data_engineering_spark.functions import casting
from azure_medicine_data_engineering_spark.operators.cleaning import (
    CastRule,
    CleaningSpec,
)

RAW_SCHEMA = (
    "`Płeć` string, `Rok urodzenia` string, "
    "`SUV (max) w miejscu zapalenia` string, `Gorączka` string, "
    "`cukrzyca` string, `tetniakPowodOper` int, `_c0` string, `badcol` string"
)
RAW_ROWS = [
    # gender, birth date, suv (comma-decimal), fever tak/nie, diabetes Prawda/"",
    # cause 0/1, junk, positional-rename target
    ("Kobieta", "1950-02-11", "4,7", "tak", "Prawda", 1, None, "x1"),
    ("Mężczyzna", "1961-07-01", "12,25", "nie", "", 0, None, "x2"),
    ("Kobieta", "1944-12-30", None, None, None, None, None, "x3"),
    (None, "1970-01-01", "1,0", "tak", "prawda", 1, None, "x4"),  # gated out
]

SPEC = CleaningSpec(
    renames={"Rok urodzenia": "birth_date", "SUV (max) w miejscu zapalenia": "suv_focus"},
    positional_renames={7: "skala5Stopnie"},
    drops=["_c0"],
    not_null_gate=["Płeć"],
    casts=[
        CastRule(["suv_focus"], "double", casting.comma_decimal),
        CastRule(["birth_date"], None, casting.to_date),
        CastRule(["Gorączka"], None, lambda c: casting.boolean_from_yes_no(c)),
        CastRule(["cukrzyca"], None, lambda c: casting.boolean_from_string(c, "prawda")),
        CastRule(["tetniakPowodOper"], "boolean"),
    ],
)


def _clean(spark):
    raw = spark.createDataFrame(RAW_ROWS, RAW_SCHEMA)
    return SPEC.apply(raw)


def test_row_gate_and_drops(spark):
    out = _clean(spark)
    assert out.count() == 3  # NULL-gender row dropped
    assert "_c0" not in out.columns
    assert "skala5Stopnie" in out.columns  # positional rename applied


def test_comma_decimal_and_date(spark):
    rows = {r["skala5Stopnie"]: r for r in _clean(spark).collect()}
    assert rows["x1"]["suv_focus"] == 4.7
    assert rows["x2"]["suv_focus"] == 12.25
    assert rows["x3"]["suv_focus"] is None
    assert rows["x1"]["birth_date"] == datetime.date(1950, 2, 11)


def test_boolean_encodings_null_semantics(spark):
    rows = {r["skala5Stopnie"]: r for r in _clean(spark).collect()}
    # tak/nie
    assert rows["x1"]["Gorączka"] is True and rows["x2"]["Gorączka"] is False
    assert rows["x3"]["Gorączka"] is None  # NULL stays NULL (utils.scala:104-108)
    # Prawda/"" — empty string is *false*, not NULL
    assert rows["x1"]["cukrzyca"] is True and rows["x2"]["cukrzyca"] is False
    assert rows["x3"]["cukrzyca"] is None
    # 0/1 int cast
    assert rows["x1"]["tetniakPowodOper"] is True
    assert rows["x2"]["tetniakPowodOper"] is False
    assert rows["x3"]["tetniakPowodOper"] is None


def test_single_projection_plan(spark):
    """The whole spec must compile to one Project (+ Filter), not a
    withColumn chain — plan-shape guard for 100-column tables."""
    plan = _clean(spark)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Project") <= 1


def test_dedupe_duplicate_headers(spark):
    """Duplicate headers auto-suffixed by ordinal (studyGrScalaA.scala:37-38
    pattern: 'tętniak rzekomy' at positions 57 and 102)."""
    from azure_medicine_data_engineering_spark.operators.cleaning import dedupe_columns

    df = spark.createDataFrame([(1, 2, 3, 4)], ["a", "b", "a", "b"])
    out = dedupe_columns(df)
    assert out.columns == ["a", "b", "a2", "b3"]
    assert out.collect()[0].a2 == 3


def _wide_cohort(spark):
    """A 118-column raw export shaped like the study cohort: renamed and
    positional headers, comma decimals, dates, three flag encodings,
    labels, junk and free-text columns."""
    dec = [f"lab {i}" for i in range(30)]
    dates = ["Data badania", "Data operacji", "Rok urodzenia"]
    yesno = [f"objaw {i}" for i in range(5)]
    prawda = [f"znak {i}" for i in range(20)]
    bits = [f"lokalizacja {i}" for i in range(30)]
    junk = [f"_c{i}" for i in range(4)]
    head = ["ID pacjenta", "Płeć", "Rodzaj protezy"]
    notes = [f"uwagi {i}" for i in range(118 - len(head + dec + dates + yesno + prawda + bits + junk))]
    raw = head + dec + dates + yesno + prawda + bits + junk + notes
    df = spark.createDataFrame([], ", ".join(f"`{c}` string" for c in raw))
    spec = CleaningSpec(
        renames={"ID pacjenta": "patient_id", "Data badania": "exam_date",
                 "Data operacji": "surgery_date", "Rok urodzenia": "birth_date",
                 **{d: d.replace(" ", "_") for d in dec[:8]}},
        positional_renames={len(raw) - 1: "skala5Stopnie"},
        drops=junk,
        not_null_gate=["Płeć"],
        casts=[
            CastRule([d.replace(" ", "_") for d in dec[:8]] + dec[8:], "double", casting.comma_decimal),
            CastRule(["exam_date", "surgery_date", "birth_date"], None, casting.to_date),
            CastRule(yesno, None, casting.boolean_from_yes_no),
            CastRule(prawda, None, casting.boolean_from_string),
            CastRule(bits, "boolean"),
        ],
        label_maps={"Rodzaj protezy": {"StentGraft": "stentgraft", "Proteza": "proteza"}},
    )
    return df, spec


def test_apply_round_trip_budget(spark):
    """Building the spec's projection stays cheap on the driver: at most
    20 py4j round trips per output column (Python call-site capture per
    Column call, on by PySpark's default, costs ~43). Only this thread's
    commands count: py4j releases collected Java objects from its own
    thread at any time."""
    import gc
    import threading

    from py4j.clientserver import ClientServerConnection

    df, spec = _wide_cohort(spark)
    calls = 0
    send = ClientServerConnection.send_command
    me = threading.current_thread()

    def counting(self, command):
        nonlocal calls
        calls += threading.current_thread() is me
        return send(self, command)

    gc.collect()
    gc.disable()
    ClientServerConnection.send_command = counting
    try:
        out = spec.apply(df)
    finally:
        ClientServerConnection.send_command = send
        gc.enable()
    assert len(out.columns) == 114
    assert calls <= 20 * len(out.columns), calls


def test_cast_of_missing_column_is_diagnosable(spark):
    """A cast rule naming a column the frame lacks fails at apply time
    with an analysis error that names the column."""
    spec = CleaningSpec(casts=[CastRule(["suv_focus", "glukoza_typo"], "double")])
    raw = spark.createDataFrame([("1,5", "2")], "suv_focus string, glukoza string")
    with pytest.raises(AnalysisException, match="glukoza_typo"):
        spec.apply(raw)
