"""Declarative ingestion repair — CleaningSpec (SURVEY §2.2 P2-P13, §7 Phase 1).

The reference cleans each clinical table imperatively: 20+ chained
``withColumnRenamed`` (``studyGrScalaA.scala:23-46``), positional renames for
unparseable headers (``contrGrScalaA.scala:15-16``), drop lists
(``studyGrScalaA.scala:54-55``), selective re-typing via ``advancedCasting``
(``utils.scala:94-96``) and generated-SQL boolean casting
(``utils.scala:104-108``). Here the whole repair is one declarative spec whose
application compiles to a single ``select`` — one projection, no temp views,
no generated SQL strings, fully Catalyst-optimizable.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from azure_medicine_data_engineering_spark.functions import casting

PrepareFn = Callable[[Column], Column]


@dataclass
class CastRule:
    """Apply ``prepare`` then cast to ``cast_to`` for every listed column
    (parity: ``advancedCasting`` — ``utils.scala:94-96``)."""

    columns: list[str]
    cast_to: str | None = None
    prepare: PrepareFn = casting.identity


@dataclass
class CleaningSpec:
    """Declarative repair: applied in order
    positional_renames → renames → drops → not_null_gate → casts → label maps.
    """

    renames: dict[str, str] = field(default_factory=dict)
    #: ordinal → new name, for headers too broken to address by name
    #: (``contrGrScalaA.scala:15-16``; ``twoPointsStudyScalaA.scala:8-12``).
    positional_renames: dict[int, str] = field(default_factory=dict)
    drops: list[str] = field(default_factory=list)
    #: rows where any of these is NULL are dropped
    #: (``studyGrScalaA.scala:11`` — ``where("`Płeć` is not null")``).
    not_null_gate: list[str] = field(default_factory=list)
    casts: list[CastRule] = field(default_factory=list)
    #: column → {old value: new value} categorical normalization (P16).
    label_maps: dict[str, dict[str, str]] = field(default_factory=dict)

    def apply(self, df: DataFrame) -> DataFrame:
        cols = list(df.columns)
        # positional then name renames, resolved into one select.
        name_of: dict[str, str] = {}
        for i, new in self.positional_renames.items():
            name_of[cols[i]] = new
        for old, new in self.renames.items():
            name_of[old] = new
        drops = set(self.drops)

        cast_of: dict[str, CastRule] = {}
        for rule in self.casts:
            for c in rule.columns:
                cast_of[c] = rule
        unknown = set(cast_of) - set(cols) - set(name_of.values())
        if unknown:
            # a cast of a column the frame lacks is a spec error: let the
            # analyzer reject it, naming the column and its near matches
            df.select(*[F.col(f"`{c}`") for c in sorted(unknown)])

        projection: list[Column] = []
        for c in cols:
            new_name = name_of.get(c, c)
            if new_name in drops or c in drops:
                continue
            expr = F.col(f"`{c}`")
            # cast rules address columns by their *final* name.
            rule = cast_of.get(new_name) or cast_of.get(c)
            if rule is not None:
                expr = rule.prepare(expr)
                if rule.cast_to:
                    expr = expr.cast(rule.cast_to)
            lmap = self.label_maps.get(new_name) or self.label_maps.get(c)
            if lmap:
                expr = casting.normalize_labels(expr, lmap)
            projection.append(expr.alias(new_name))

        out = df.select(*projection)
        for c in self.not_null_gate:
            out = out.where(F.col(f"`{c}`").isNotNull())
        return out


def clean(df: DataFrame, spec: CleaningSpec) -> DataFrame:
    return spec.apply(df)


def dedupe_columns(df: DataFrame) -> DataFrame:
    """Auto-suffix duplicate column names with their ordinal position.

    Parity: the reference's ingest produces duplicate headers that Databricks
    auto-suffixes by position (e.g. two ``tętniak rzekomy`` columns become
    ``…57`` and ``…102`` — ``studyGrScalaA.scala:37-38``). Spark refuses to
    select ambiguous names, so repair happens positionally: every duplicate
    occurrence (beyond the first) gets its 0-based ordinal appended."""
    seen: dict[str, int] = {}
    names: list[str] = []
    for i, c in enumerate(df.columns):
        if c in seen:
            names.append(f"{c}{i}")
        else:
            seen[c] = i
            names.append(c)
    return df.toDF(*names)
