"""The clinical pipeline workload: clean/cast → division table + quality
report → categorized summaries → harmonize + permutation tests + BH →
frequent itemsets → decision tree → publish with catalog metadata.

The clean stage reads the raw CSV exports through ``sources`` and publishes
each cleaned cohort as a catalog table; the later stages read those tables,
as the reference pipeline reads its stage products. The expected results
are computed with numpy from the generated values.
"""

from __future__ import annotations

import math
import os

import numpy as np
from pyspark.sql import functions as F

from azure_medicine_data_engineering_spark.functions import casting
from azure_medicine_data_engineering_spark.functions.mining import frequent_itemsets
from azure_medicine_data_engineering_spark.functions.stats import (
    bh_adjust,
    permutation_test_grouped,
)
from azure_medicine_data_engineering_spark.ml.pipeline import (
    evaluate,
    hash_split,
    train_decision_tree,
)
from azure_medicine_data_engineering_spark.operators.cleaning import (
    CastRule,
    CleaningSpec,
    clean,
)
from azure_medicine_data_engineering_spark.operators.divisions import (
    division_table,
    get_columns_of_divisions,
)
from azure_medicine_data_engineering_spark.operators.quality import (
    DESC_NULLS,
    DESC_OUTLIER,
    DESC_RANGE,
    RangeSpec,
    quality_report,
)
from azure_medicine_data_engineering_spark.operators.summarize import categorized_summary
from azure_medicine_data_engineering_spark.plans.pipeline import (
    SummaryTable,
    harmonize_cohorts,
)
from azure_medicine_data_engineering_spark.sources import catalog, readers

import datagen

COHORTS = ["study", "control", "two_point"]

RENAMES = {
    "study": {
        "ID pacjenta": "patient_id", "Rok urodzenia": "birth_date",
        "Data badania": "exam_date", "Data operacji": "surgery_date",
        "Podana Aktywnosc": "injected_activity", "Glikemia": "glucose",
        "CRP(6 mcy)": "crp", "WBC(6 mcy)": "wbc",
        "SUV (max) w miejscu zapalenia": "suv_focus", "SUV (max) tła": "suv_background",
        "tumor to background ratio": "tbr",
    },
    "control": {
        "ID pacjenta": "patient_id", "data badania 1": "exam_date",
        "SUV protezy": "suv_focus", "tło": "suv_background",
        "glukoza w dniu podania [mg/dl]": "glucose", "CRP": "crp",
        "stentgraft czy proteza": "Rodzaj protezy",
    },
    "two_point": {
        "ID pacjenta": "patient_id", "Data badania wcześniejsze": "exam1_date",
        "Data badania późniejsze": "exam2_date", "Data operacji": "surgery_date",
        "SUV (max) w miejscu zapalenia e1": "suv_focus_e1",
        "SUV (max) w miejscu zapalenia e2": "suv_focus_e2",
        "SUV (max) tła e1": "suv_background_e1", "SUV (max) tła e2": "suv_background_e2",
    },
}
POSITIONAL = {"study": {92: "skala5Stopnie"}}
GATES = {"study": ["Płeć"], "control": ["Płeć", "exam_date"], "two_point": ["Płeć", "exam1_date"]}
LABELS = {
    "study": {
        "Rodzaj protezy": {"StentGraft": "stentgraft", "Proteza": "proteza"},
        "uproszczona klasyfikacja": {"ob. nacz. biodrowe": "Y", "aorty piersiowej": "B"},
    },
}
CASTS = {
    "dec": ("double", casting.comma_decimal),
    "date": (None, casting.to_date),
    "yesno": (None, casting.boolean_from_yes_no),
    "prawda": (None, casting.boolean_from_string),
    "bit": ("boolean", casting.identity),
}
#: quality stage config of the cohorts it runs on
DIVISIONS = {
    "study": [("suv", ["suv_focus", "suv_background", "tbr"]),
              ("labs", ["glucose", "crp", "wbc"]),
              ("dates", ["exam_date", "surgery_date"])],
}
NULL_DIVISIONS = {"study": ["suv", "labs"]}
RANGES = {
    "study": [RangeSpec("suv_focus", 0, 70), RangeSpec("tbr", 0, 1), RangeSpec("glucose", 0, 500)],
}
ZSCORE = {"study": ["suv_focus", "crp"]}
SUMMARIES = [
    ("study", SummaryTable(
        "StudyGroupSuv",
        [("suv_focus", "suvFocus"), ("suv_background", "suvBackground"), ("tbr", "tbr")],
        ["median", "min", "max", "count"], ["Płeć", "Rodzaj protezy"])),
]
#: harmonized schema for the cohort comparison (source → shared name)
HARMONIZED = {"suv_focus": "suvFocus", "suv_background": "suvBackground",
              "glucose": "glucose", "crp": "crp", "Płeć": "gender", "patient_id": "patient_id"}
HYPOTHESES = ["suvFocus", "suvBackground", "glucose", "crp"]
N_PERMUTATIONS = 2000
SIGNS = datagen.IMAGE_SIGNS
MIN_SUPPORT = 0.1
FEATURES = ["suvFocus", "suvBackground", "glucose", "crp"]


def final_names(co: datagen.Cohort) -> list[str]:
    names = [RENAMES[co.name].get(c.raw, c.raw) for c in co.columns]
    for i, new in POSITIONAL.get(co.name, {}).items():
        names[i] = new
    return names


def cleaning_spec(co: datagen.Cohort) -> CleaningSpec:
    names = final_names(co)
    by_kind: dict[str, list[str]] = {}
    for c, name in zip(co.columns, names):
        by_kind.setdefault(c.kind, []).append(name)
    return CleaningSpec(
        renames=RENAMES[co.name],
        positional_renames=POSITIONAL.get(co.name, {}),
        drops=by_kind.get("junk", []),
        not_null_gate=GATES[co.name],
        casts=[CastRule(by_kind[k], to, prep) for k, (to, prep) in CASTS.items() if k in by_kind],
        label_maps=LABELS.get(co.name, {}),
    )


def csv_schema(co: datagen.Cohort) -> str:
    return ", ".join(f"`{c.raw}` string" for c in co.columns)


class Clinical:
    """Op builders and expectations for one generated set of cohorts."""

    def __init__(self, cohorts: dict[str, datagen.Cohort], csv_dir: str, seed: int):
        self.cohorts = cohorts
        self.csv_dir = csv_dir
        self.seed = seed
        self.specs = {n: cleaning_spec(co) for n, co in cohorts.items()}
        self.schemas = {n: csv_schema(co) for n, co in cohorts.items()}
        # cleaned-value view for expectations: final name -> gated values
        self.clean_values: dict[str, dict[str, np.ndarray]] = {}
        for n, co in cohorts.items():
            vals = {}
            for c, name in zip(co.columns, final_names(co)):
                v = co.values[c.raw][co.gate]
                labels = LABELS.get(n, {}).get(name)
                if labels:
                    v = np.array([labels.get(x, x) for x in v], dtype=object)
                vals[name] = v
            self.clean_values[n] = vals

    # -- shared upstream ---------------------------------------------------

    def cleaned(self, ctx, cohort: str):
        """The clean stage's published product for ``cohort``."""
        return ctx.call("sources.read", f"read_table:{cohort}_clean",
                        lambda: readers.read_table(ctx.spark, f"{cohort}_clean"))

    def harmonized(self, ctx):
        frames = {c: self.cleaned(ctx, c).where(F.col("suv_focus").between(0, 70))
                  for c in ("study", "control")}
        return ctx.call("plans", "harmonize_cohorts", lambda: harmonize_cohorts(
            frames, {c: HARMONIZED for c in frames}))

    def publish(self, ctx, df, name: str, description: str):
        """Zero-argument finish that publishes ``df`` with catalog metadata."""
        return lambda: ctx.call("sources.write", f"create_table_with_meta:{name}",
                                lambda: catalog.create_table_with_meta(df, name, description))

    # -- operations --------------------------------------------------------

    def op_clean(self, cohort):
        def run(ctx):
            path = os.path.join(self.csv_dir, f"{cohort}.csv")
            raw = ctx.call("sources.read", f"read_csv:{cohort}", lambda: readers.read_csv(
                ctx.spark, path, delimiter=";", schema=self.schemas[cohort]))
            # the gate's keep ratio, counted in flight when traced
            df = ctx.count_rows(clean(ctx.count_rows(raw, "rows_in"), self.specs[cohort]), "rows_out")
            return self.publish(ctx, df, f"{cohort}_clean", f"cleaned {cohort} cohort")
        return run

    def op_quality(self, cohort):
        def run(ctx):
            df = self.cleaned(ctx, cohort)
            div = division_table(ctx.spark, DIVISIONS[cohort])
            null_cols = get_columns_of_divisions(div, NULL_DIVISIONS[cohort])
            return quality_report(df, null_cols=sorted(null_cols), ranges=RANGES[cohort],
                                  zscore_cols=ZSCORE[cohort])
        return run

    def op_summary(self, cohort, st: SummaryTable):
        return lambda ctx: categorized_summary(
            self.cleaned(ctx, cohort), st.metrics, st.aggs, st.categories)

    def op_stats(self, ctx):
        merged = self.harmonized(ctx)
        stacked = ", ".join(f"'{h}', CAST(`{h}` AS DOUBLE)" for h in HYPOTHESES)
        long = merged.select(
            (F.col("cohort") == "study").alias("is_study"),
            F.expr(f"stack({len(HYPOTHESES)}, {stacked}) AS (hyp, value)"),
        )
        tested = permutation_test_grouped(
            long, "hyp", "value", "is_study", n_permutations=N_PERMUTATIONS, seed=self.seed)

        def finish():
            rows = sorted(tested.collect(), key=lambda r: r.hypothesis)
            mask = bh_adjust(np.array([r.p_value for r in rows]))
            return [dict(r.asDict(), rejected=bool(m)) for r, m in zip(rows, mask)]
        return finish

    def op_mining(self, ctx):
        study = self.cleaned(ctx, "study")
        items = F.array_compact(F.array(
            *[F.when(F.col(f"`{s}`"), F.lit(s)) for s in SIGNS]))
        signs = study.select(items.alias("items")).where(F.size("items") > 0)
        return frequent_itemsets(signs, min_support=MIN_SUPPORT)

    def op_ml(self, ctx):
        merged = self.harmonized(ctx).select(
            F.concat_ws(":", "cohort", "patient_id").alias("pid"),
            (F.col("cohort") == "study").cast("double").alias("label"),
            *[F.col(c).cast("double").alias(c) for c in FEATURES],
        )
        train, test = hash_split(merged, "pid")
        model = train_decision_tree(train, FEATURES, "label", seed=self.seed)
        return lambda: evaluate(model, test, FEATURES, "label").metrics

    def ops(self) -> list[tuple[str, str, object]]:
        """(name, layer, fn) in pipeline order; later stages read the
        cleaned tables the clean stage published in the same pass."""
        out = [(f"clean:{c}", "cleaning", self.op_clean(c)) for c in COHORTS]
        out += [(f"quality:{c}", "quality", self.op_quality(c)) for c in DIVISIONS]
        out += [(f"summarize:{st.name}", "summarize", self.op_summary(c, st)) for c, st in SUMMARIES]
        out += [("stats:permutation_bh", "stats", self.op_stats),
                ("mining:image_signs", "mining", self.op_mining),
                ("ml:decision_tree", "ml", self.op_ml)]
        return out

    # -- expectations --------------------------------------------------------

    def published_tables(self) -> dict[str, int]:
        """Table name -> expected row count for one pass."""
        return {f"{c}_clean": int(self.cohorts[c].gate.sum()) for c in COHORTS}

    def expected_report(self, cohort: str) -> dict[tuple[str, str], int]:
        v = self.clean_values[cohort]
        exp = {}
        cols = sorted({c for d, cs in DIVISIONS[cohort] if d in NULL_DIVISIONS[cohort] for c in cs})
        for c in cols:
            exp[(DESC_NULLS, c)] = int(np.isnan(v[c]).sum())
        for r in RANGES[cohort]:
            x = v[r.column]
            exp[(DESC_RANGE, r.column)] = int(((x < r.lo) | (x > r.hi)).sum())
        for c in ZSCORE[cohort]:
            x = v[c][~np.isnan(v[c])]
            z = np.abs((x - x.mean()) / x.std())
            if np.any(np.abs(z - 3.0) < 0.05):
                raise ValueError(f"generated {cohort}.{c} has a z-score too close to 3")
            exp[(DESC_OUTLIER, c)] = int((z > 3.0).sum())
        return {k: n for k, n in exp.items() if n > 0}

    def expected_summary(self, cohort: str, st: SummaryTable) -> dict[tuple, dict[str, float]]:
        v = self.clean_values[cohort]
        groups = [("All", "All", np.ones(len(v["Płeć"]), dtype=bool))]
        for cat in st.categories:
            for val in sorted(set(v[cat])):
                groups.append((cat, val, v[cat] == val))
        fns = {"median": np.median, "min": np.min, "max": np.max, "count": len}
        out = {}
        for div, val, mask in groups:
            for agg in st.aggs:
                row = {}
                for src, alias in st.metrics:
                    x = v[src][mask]
                    x = x[~np.isnan(x)]
                    row[alias] = float(fns[agg](x))
                out[(div, val, agg)] = row
        return out

    def expected_stats(self) -> dict[str, tuple[int, int]]:
        counts = {}
        ok = {}
        for c in ("study", "control"):
            s = self.clean_values[c]["suv_focus"]
            ok[c] = (s >= 0) & (s <= 70)
        for h in HYPOTHESES:
            src = next(k for k, dst in HARMONIZED.items() if dst == h)
            counts[h] = tuple(int((~np.isnan(self.clean_values[c][src][ok[c]])).sum())
                              for c in ("study", "control"))
        return counts

    def expected_singletons(self) -> dict[str, int]:
        v = self.clean_values["study"]
        flags = np.array([[x is not None for x in v[s]] for s in SIGNS])
        n_trans = int(flags.any(axis=0).sum())
        min_count = math.ceil(MIN_SUPPORT * n_trans)
        return {s: int(f.sum()) for s, f in zip(SIGNS, flags) if f.sum() >= min_count}

    # -- checks --------------------------------------------------------------

    def check(self, name: str, out) -> list[str]:
        """Failures of one op's warm-pass output against the expectations."""
        kind, _, arg = name.partition(":")
        if kind == "clean":
            return []  # checked from the published tables after each pass
        if kind == "quality":
            got = {(r.description, r.columnName): int(r.number) for r in out.itertuples()}
            try:
                want = self.expected_report(arg)
            except ValueError as e:
                return [f"{name}: {e}"]
            return [] if got == want else [f"{name}: report {got} != expected {want}"]
        if kind == "summarize":
            cohort, st = next((c, s) for c, s in SUMMARIES if s.name == arg)
            want = self.expected_summary(cohort, st)
            got = {(r["Division"], r["DivisionCategory"], r["aggregation"]): r
                   for r in out.to_dict("records")}
            errs = [] if set(got) == set(want) else [f"{name}: groups {sorted(got)} != {sorted(want)}"]
            for key in set(got) & set(want):
                for alias, x in want[key].items():
                    if not math.isclose(got[key][alias], round(x, 4), abs_tol=1e-6):
                        errs.append(f"{name}: {key} {alias}={got[key][alias]} expected {x}")
            return errs
        if kind == "stats":
            want = self.expected_stats()
            got = {r["hypothesis"]: r for r in out}
            errs = [] if set(got) == set(want) else [f"{name}: hypotheses {sorted(got)}"]
            for h, (na, nb) in want.items():
                r = got.get(h)
                if r and (r["n_a"], r["n_b"]) != (na, nb):
                    errs.append(f"{name}: {h} n=({r['n_a']},{r['n_b']}) expected ({na},{nb})")
                if r and not 0 < r["p_value"] <= 1:
                    errs.append(f"{name}: {h} p={r['p_value']}")
            # planted effect: study SUV is drawn from a higher range
            if not got.get("suvFocus", {}).get("rejected"):
                errs.append(f"{name}: planted suvFocus effect not rejected by BH")
            return errs
        if kind == "mining":
            got = {r.items: int(r.freq) for r in out.itertuples() if "," not in r.items}
            want = self.expected_singletons()
            return [] if got == want else [f"{name}: singletons {got} != {want}"]
        if kind == "ml":
            auc = out["auc"]
            return [] if auc > 0.8 else [f"{name}: AUC {auc} <= 0.8"]
        return [f"{name}: no check"]

    def check_published(self, spark, db: str) -> list[str]:
        want = {**self.published_tables(), catalog.DEFAULT_CATALOG_TABLE: len(COHORTS)}
        errs = []
        for t, n in want.items():
            try:
                got = spark.read.table(f"{db}.{t}").count()
            except Exception as e:  # a failed publish leaves no table
                errs.append(f"publish: {db}.{t} unreadable: {type(e).__name__}")
                continue
            if got != n:
                errs.append(f"publish: {db}.{t} has {got} rows, expected {n}")
        return errs
