"""Seeded input generators for the benchmark workloads.

Everything is built column-wise with numpy and written with pyarrow/pandas
in bulk; the same seed always yields byte-identical inputs.

* :func:`write_star_schema` writes the sf-scaled analytics tables
  (``lineitem orders customer nation region events``) with the
  shapes and value grids of the engine's sf0.1 test data.
* :func:`write_clinical` writes three Excel-export-like CSV cohorts (``;``
  separated, comma decimals, Polish headers and labels, ``tak``/``nie`` and
  ``Prawda`` flags) with planted NULLs, range violations and z-outliers, and
  returns the generated values, from which the expected results are
  computed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, seed-reproducible stream per table/cohort."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal values in [lo, hi]."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100


def _ts(days_from: np.int64, day_offsets: np.ndarray) -> pa.Array:
    return pa.array(days_from + day_offsets.astype(np.int64) * DAY_US, pa.timestamp("us"))


# ---------------------------------------------------------------------------
# Analytics tables
# ---------------------------------------------------------------------------


def _lineitem(r, sf):
    n = int(6_000_000 * sf)
    return {
        "l_orderkey": r.integers(0, int(1_500_000 * sf), n),
        "l_partkey": r.integers(0, int(200_000 * sf), n),
        "l_suppkey": r.integers(0, int(10_000 * sf), n),
        "l_linenumber": r.integers(1, 8, n).astype(np.int32),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _cents(r, 900.0, 105_000.0, n),
        "l_discount": r.integers(0, 11, n) / 100,
        "l_tax": r.integers(0, 9, n) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": _ts(EPOCH_1995 + DAY_US, r.integers(0, 2499, n)),
    }


def _orders(r, sf):
    n = int(1_500_000 * sf)
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": r.integers(0, int(150_000 * sf), n),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
        "o_totalprice": _cents(r, 1000.0, 500_000.0, n),
        "o_orderdate": _ts(EPOCH_1995, r.integers(0, 2404, n)),
        "o_orderpriority": priorities[r.integers(0, 5, n)],
    }


def _customer(r, sf):
    n = int(150_000 * sf)
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    return {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": r.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _cents(r, -999.99, 9999.99, n),
        "c_mktsegment": segments[r.integers(0, 5, n)],
    }


def _nation(r, sf):
    return {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }


def _region(r, sf):
    return {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }


def _events(r, sf):
    n = int(1_000_000 * sf)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(np.sort(EPOCH_2024 + r.integers(0, 30 * DAY_US, n)), pa.timestamp("us")),
        "user_id": r.integers(0, int(15_000 * sf), n),
        "event_type": np.array(["signup", "click", "error", "view", "purchase"])[r.integers(0, 5, n)],
        "value": np.round(np.minimum(r.exponential(50.0, n), 600.0), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    }


TABLES = {
    "lineitem": _lineitem, "orders": _orders, "customer": _customer, "nation": _nation,
    "region": _region, "events": _events,
}


def write_star_schema(out_dir: str, seed: int, sf: float, names: list[str]) -> None:
    """Generate the named sf-scaled tables and write one parquet file each."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        table = pa.table(TABLES[name](_rng(seed, name), sf))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Clinical cohorts
# ---------------------------------------------------------------------------

YES, NO = "tak", "nie"
TRUE_STR = "Prawda"
GENDERS = ["Kobieta", "Mężczyzna"]

IMAGE_SIGNS = [
    "Nieregularne zarysy", "Ogniskowe gromadzenie znacznika", "PecherzykiGazu",
    "Skrzeplina w okolicy miejsca podejrzanego o zapalenie", "Obszar plynowy w okolicy",
    "wysiekZatarcieTluszczu", "Naciek zapalny w okolicy", "przetoka ropna",
    "tetniakRzekomyObraz", "activeLymphNodes",
]
LOCATIONS = [
    "lok - aorta brzuszna", "okolica rozwidlenia", "lewe ramie", "prawe ramie",
    "wholeAscendingAorta", "łuk aorty", "aorta wstępująca przyzastawkowo",
    "na wysokości spojenia łonowego", "lokalizacja inna",
]
CT_FINDINGS = [
    "obecność skrzepliny", "tetniakRzekomyCT", "pogrubienie ściany aorty",
    "poszerzenie w obrębie zespolenia", "naciek zapalny", "przetoka",
    "wzmożenie densyjności tkanek w okolicy protezy", "płyn wokół protezy", "CT bez zmian",
]
MICRO = ["proteza dodatni", "proteza ujemny", "rana +", "przetoka +", "krew +", "krew -"]
NOTES = np.array(["brak", "bez zmian", "kontrola za 3 mies.", "wg opisu", "nd"])


@dataclass
class ColumnSpec:
    """One raw column: ``kind`` drives generation and the cleaning cast."""

    raw: str
    kind: str  # id gender date dec yesno prawda bit cat note junk
    lo: float = 0.0  # value range of dates (years) and decimals
    hi: float = 1.0
    choices: tuple[str, ...] = ()
    null_frac: float = 0.0
    p_true: float = 0.0  # share of set flags (prawda, bit)


@dataclass
class Cohort:
    name: str
    n_rows: int
    columns: list[ColumnSpec]
    raw: pd.DataFrame = None  # type: ignore[assignment]
    #: values as the cleaning stage will see them, keyed by raw name:
    #: float arrays (NaN = NULL) for dec, object arrays for the rest
    values: dict[str, np.ndarray] = field(default_factory=dict)
    gate: np.ndarray = None  # type: ignore[assignment]  # rows kept by the NOT NULL gate


def _study_columns() -> list[ColumnSpec]:
    cols = [
        ColumnSpec("ID pacjenta", "id"),
        ColumnSpec("Płeć", "gender"),
        ColumnSpec("Rok urodzenia", "date", 1935, 1975),
        ColumnSpec("Data badania", "date", 2014, 2019),
        ColumnSpec("Data operacji", "date", 2005, 2013),
        ColumnSpec("Podana Aktywnosc", "dec", 150, 400, null_frac=0.05),
        ColumnSpec("Glikemia", "dec", 70, 180, null_frac=0.05),
        ColumnSpec("CRP(6 mcy)", "dec", 1, 50, null_frac=0.05),
        ColumnSpec("WBC(6 mcy)", "dec", 4, 15, null_frac=0.05),
        ColumnSpec("SUV (max) w miejscu zapalenia", "dec", 4, 12, null_frac=0.05),
        ColumnSpec("SUV (max) tła", "dec", 1, 3, null_frac=0.05),
        ColumnSpec("tumor to background ratio", "dec", 0.1, 0.99, null_frac=0.05),
        ColumnSpec("uproszczona klasyfikacja", "cat",
                   choices=("ob. nacz. biodrowe", "aorty piersiowej")),
        ColumnSpec("Rodzaj protezy", "cat", choices=("StentGraft", "Proteza")),
        ColumnSpec("Material", "cat", choices=("dakron", "PTFE", "inny")),
        ColumnSpec("Gorączka", "yesno", null_frac=0.05),
        ColumnSpec("cukrzyca", "prawda", p_true=0.3),
        ColumnSpec("Nikotynizm", "prawda", p_true=0.4),
        ColumnSpec("zgon", "prawda", p_true=0.1),
    ]
    cols += [ColumnSpec(s, "prawda", p_true=0.15 + 0.05 * i) for i, s in enumerate(IMAGE_SIGNS)]
    cols += [ColumnSpec(c, "bit", p_true=0.3) for c in
             ("tetniakPowodOper", "lerichPowodOper", "infectionOfPrevious", "nieznany")]
    cols += [ColumnSpec(c, "bit", p_true=0.2) for c in LOCATIONS + MICRO + CT_FINDINGS]
    cols += [ColumnSpec(f"_c{i}", "junk") for i in range(4)]
    cols += [ColumnSpec(f"badanie lab {i}", "dec", 1, 100, null_frac=0.05) for i in range(30)]
    cols += [ColumnSpec(f"uwagi {i}", "note") for i in range(118 - len(cols) - 1)]
    # an unparseable header addressed by position (renamed skala5Stopnie)
    cols.insert(92, ColumnSpec("skala 5° [wzrokowa] (1-5)", "cat", choices=tuple("12345")))
    return cols


def _control_columns() -> list[ColumnSpec]:
    cols = [
        ColumnSpec("ID pacjenta", "id"),
        ColumnSpec("Płeć", "gender"),
        ColumnSpec("data badania 1", "date", 2015, 2019, null_frac=0.02),
        ColumnSpec("Rok z peselu", "cat", choices=tuple(str(y) for y in range(1935, 1976))),
        ColumnSpec("data wszczepienia stentgraftu", "date", 2005, 2014),
        ColumnSpec("SUV protezy", "dec", 1, 5, null_frac=0.05),
        ColumnSpec("tło", "dec", 1, 3, null_frac=0.05),
        ColumnSpec("aktywnosc w dniu podania [MBq]", "dec", 150, 400, null_frac=0.05),
        ColumnSpec("glukoza w dniu podania [mg/dl]", "dec", 70, 180, null_frac=0.05),
        ColumnSpec("CRP", "dec", 1, 50, null_frac=0.05),
        ColumnSpec("stentgraft czy proteza", "cat", choices=("stentgraft", "proteza")),
        ColumnSpec("typ", "cat", choices=("Y", "B", "X")),
        ColumnSpec("cukrzyca", "bit", p_true=0.3),
    ]
    cols += [ColumnSpec(c, "bit", p_true=0.2) for c in
             ("proteza udowo - podkolanowa", "przetoka pachwinowa", "zarejestrowany zgon", "reoperacje")]
    cols += [ColumnSpec(f"_c{i}", "junk") for i in range(5)] + [ColumnSpec("_c25", "junk")]
    cols += [ColumnSpec(f"badanie lab {i}", "dec", 1, 100, null_frac=0.05) for i in range(40)]
    cols += [ColumnSpec(f"uwagi {i}", "note") for i in range(100 - len(cols))]
    return cols


def _two_point_columns() -> list[ColumnSpec]:
    cols = [
        ColumnSpec("ID pacjenta", "id"),
        ColumnSpec("Płeć", "gender"),
        ColumnSpec("Data badania wcześniejsze", "date", 2014, 2016, null_frac=0.02),
        ColumnSpec("Data badania późniejsze", "date", 2017, 2019),
        ColumnSpec("Data operacji", "date", 2005, 2013),
    ]
    for e in (1, 2):
        cols += [
            ColumnSpec(f"SUV (max) w miejscu zapalenia e{e}", "dec", 3, 11, null_frac=0.05),
            ColumnSpec(f"SUV (max) tła e{e}", "dec", 1, 3, null_frac=0.05),
            ColumnSpec(f"CRP(6 mcy) badanie {e}", "dec", 1, 50, null_frac=0.05),
            ColumnSpec(f"WBC(6 mcy) badanie {e}", "dec", 4, 15, null_frac=0.05),
            ColumnSpec(f"Glikemia badanie {e}", "dec", 70, 180, null_frac=0.05),
        ]
        cols += [ColumnSpec(f"{s} e{e}", "prawda", p_true=0.2) for s in IMAGE_SIGNS]
        cols += [ColumnSpec(f"{c} e{e}", "bit", p_true=0.2) for c in LOCATIONS]
    cols += [
        ColumnSpec("cukrzyca", "bit", p_true=0.3),
        ColumnSpec("Rodzaj protezy starsze", "cat", choices=("StentGraft", "Proteza")),
        ColumnSpec("Rodzaj protezy nowsze", "cat", choices=("StentGraft", "Proteza")),
    ]
    cols += [ColumnSpec(f"_c{i}", "junk") for i in range(3)]
    cols += [ColumnSpec(f"uwagi {i}", "note") for i in range(118 - len(cols))]
    return cols


def _fmt_comma(v: np.ndarray) -> np.ndarray:
    out = np.array([f"{x:.2f}".replace(".", ",") for x in v], dtype=object)
    out[np.isnan(v)] = None
    return out


def _build(cohort: Cohort, rng: np.random.Generator) -> None:
    n = cohort.n_rows
    raw: dict[str, np.ndarray] = {}
    for c in cohort.columns:
        nulls = rng.random(n) < c.null_frac
        if c.kind == "id":
            v = np.arange(1, n + 1).astype(str).astype(object)
        elif c.kind == "gender":
            v = np.array(GENDERS, dtype=object)[rng.integers(0, 2, n)]
        elif c.kind == "date":
            y = rng.integers(int(c.lo), int(c.hi) + 1, n)
            m, d = rng.integers(1, 13, n), rng.integers(1, 29, n)
            v = np.array([f"{a}-{b:02d}-{e:02d}" for a, b, e in zip(y, m, d)], dtype=object)
        elif c.kind == "dec":
            v = _cents(rng, c.lo, c.hi, n)
            v[nulls] = np.nan
            cohort.values[c.raw] = v
            continue
        elif c.kind == "yesno":
            v = np.where(rng.random(n) < 0.4, YES, NO).astype(object)
        elif c.kind == "prawda":
            v = np.where(rng.random(n) < c.p_true, TRUE_STR, None).astype(object)
        elif c.kind == "bit":
            v = (rng.random(n) < c.p_true).astype(int).astype(str).astype(object)
        elif c.kind == "cat":
            v = np.array(c.choices, dtype=object)[rng.integers(0, len(c.choices), n)]
        elif c.kind == "note":
            v = NOTES.astype(object)[rng.integers(0, len(NOTES), n)]
        elif c.kind == "junk":
            v = np.full(n, None, dtype=object)
        else:
            raise ValueError(c.kind)
        if c.kind not in ("prawda", "junk"):
            v[nulls] = None
        raw[c.raw] = v
    cohort.values.update(raw)


def _plant(cohort: Cohort, rng: np.random.Generator, column: str, values: list[float]) -> None:
    """Overwrite distinct non-null rows that pass the gate with ``values``,
    so every planted defect reaches the quality stage."""
    v = cohort.values[column]
    rows = rng.choice(np.flatnonzero(~np.isnan(v) & cohort.gate), len(values), replace=False)
    v[rows] = values


def _gate(cohort: Cohort, rng: np.random.Generator, columns: list[str], k: int) -> None:
    """NULL ``k`` random cells of the first gate column, then record which
    rows pass the NOT NULL gate over ``columns``."""
    rows = rng.choice(cohort.n_rows, k, replace=False)
    cohort.values[columns[0]][rows] = None
    cohort.gate = np.ones(cohort.n_rows, dtype=bool)
    for g in columns:
        cohort.gate &= np.array([x is not None for x in cohort.values[g]])


def _to_frame(cohort: Cohort) -> pd.DataFrame:
    data = {}
    for c in cohort.columns:
        v = cohort.values[c.raw]
        data[c.raw] = _fmt_comma(v) if c.kind == "dec" else v
    return pd.DataFrame(data)


def clinical_cohorts(seed: int) -> dict[str, Cohort]:
    """A few hundred patients per cohort, like the reference's data."""
    cohorts = {
        "study": Cohort("study", 300, _study_columns()),
        "control": Cohort("control", 250, _control_columns()),
        "two_point": Cohort("two_point", 200, _two_point_columns()),
    }
    for name, co in cohorts.items():
        _build(co, _rng(seed, "clinical-" + name))
    r = _rng(seed, "clinical-defects")
    st, ct, tp = cohorts["study"], cohorts["control"], cohorts["two_point"]
    # row-gate casualties (NULL gender; control and two-point exam dates
    # already carry their own NULLs)
    _gate(st, r, ["Płeć"], int(r.integers(2, 7)))
    _gate(ct, r, ["Płeć", "data badania 1"], int(r.integers(1, 5)))
    _gate(tp, r, ["Płeć", "Data badania wcześniejsze"], int(r.integers(1, 5)))
    # range violations [0, 70] and extreme z-outliers on the focus SUV
    _plant(st, r, "SUV (max) w miejscu zapalenia", [-3.0, 71.5, 400.0, 350.0])
    _plant(ct, r, "SUV protezy", [-1.5, 88.0])
    # glucose range [0, 500] and a CRP z-outlier
    _plant(st, r, "Glikemia", [612.0, -1.0])
    _plant(st, r, "CRP(6 mcy)", [900.0])
    for co in cohorts.values():
        co.raw = _to_frame(co)
    return cohorts


def write_clinical(out_dir: str, seed: int) -> dict[str, Cohort]:
    """Write ``<cohort>.csv`` files (``;``-separated, header, UTF-8)."""
    os.makedirs(out_dir, exist_ok=True)
    cohorts = clinical_cohorts(seed)
    for name, co in cohorts.items():
        co.raw.to_csv(os.path.join(out_dir, f"{name}.csv"), sep=";", index=False)
    return cohorts
