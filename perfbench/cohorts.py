"""Seeded clinical cohorts (FIXTURES.md T1, T2) with planted defects.

Each cohort is one table of string columns the way the reference's
spreadsheet export ships them: Polish headers, comma decimals, three
boolean encodings, duplicate headers that Spark suffixes by position, junk
columns and NULL gates. The same column table drives both the generator and
the cohort's :class:`CleaningSpec`, so the cleaned names always line up.

Planted defects have exact expected counts: every quality-checked column is
otherwise non-NULL and inside its range, base values are uniform (so their
|z| stays below 2) and planted extremes sit far outside |z| = 3. The
expected z-outlier count is recomputed with numpy from the generated values
and the generator refuses a draw where any value lands near the threshold.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

from azure_medicine_data_engineering_spark.functions import casting
from azure_medicine_data_engineering_spark.operators.cleaning import CastRule, CleaningSpec
from azure_medicine_data_engineering_spark.operators.quality import (
    DESC_NULLS,
    DESC_OUTLIER,
    DESC_RANGE,
    RangeSpec,
)

DAY0 = np.datetime64("1970-01-01")
Z_THRESHOLD = 3.0
Z_MARGIN = 0.2
#: share of rows the NULL gate drops, per mille
GATED_PER_MILLE = 15


@dataclass
class Col:
    """One raw column: header as exported, cleaned alias (None keeps the
    header), kind and kind parameters."""

    header: str
    kind: str
    alias: str | None = None
    args: dict = field(default_factory=dict)

    @property
    def name(self) -> str:
        return self.alias or self.header


def dec(header, alias, lo, hi, rng_spec=None, low=None, high=None, z=None):
    """Comma-decimal column, base uniform on [lo, hi] in cents. ``rng_spec``
    is the quality range; ``low``/``high`` are planted range violations and
    ``z`` a planted in-range extreme."""
    return Col(header, "dec", alias, dict(lo=lo, hi=hi, range=rng_spec, low=low,
                                          high=high, z=z))


def prawda(header, alias=None):
    return Col(header, "prawda", alias)


def int01(header, alias=None):
    return Col(header, "int01", alias)


def cat(header, choices, alias=None, null_rate=0.0):
    return Col(header, "cat", alias, dict(choices=choices, null_rate=null_rate))


def date(header, alias, start, span, gate=False):
    return Col(header, "date", alias, dict(start=start, span=span, gate=gate))


def _pad(cols: list[Col], width: int, positional: dict[int, Col]) -> list[Col]:
    """Fill to ``width`` with free-text note columns; ``positional`` pins
    columns (duplicate headers renamed by ordinal) at fixed ordinals."""
    out = list(cols)
    note = 0
    while len(out) < width:
        if len(out) in positional:
            out.append(positional[len(out)])
            continue
        note += 1
        out.append(cat(f"uwagi {note}", ["brak", "kontrola", "do wyjaśnienia", "bez zmian"],
                       null_rate=0.08))
    return out


def _study_cols() -> list[Col]:
    signs = ["Nieregularne zarysy", "Ogniskowe gromadzenie znacznika", "PecherzykiGazu",
             "Skrzeplina w okolicy miejsca podejrzanego o zapalenie", "Obszar plynowy w okolicy",
             "wysiekZatarcieTluszczu", "Naciek zapalny w okolicy", "przetoka ropna",
             "tetniakRzekomyObraz", "activeLymphNodes"]
    locs = [("lok - aorta brzuszna", "loc_abdominal_aorta"), ("okolica rozwidlenia", None),
            ("lewe ramie", None), ("prawe ramie", None), ("wholeAscendingAorta", None),
            ("łuk aorty", None), ("aorta wstępująca przyzastawkowo", None),
            ("na wysokości spojenia łonowego", None)]
    micro = [("proteza dodatni", None), ("proteza ujemny", None), ("rana +", None),
             ("przetoka +", None), ("krew +", "micro_blood_pos"), ("krew -", None)]
    ct = ["obecność skrzepliny", "tetniakRzekomyCT", "pogrubienie ściany aorty",
          "poszerzenie w obrębie zespolenia", "naciek zapalny",
          "wzmożenie densyjności tkanek w okolicy protezy", "przetoka", "płyn wokół protezy",
          "CT bez zmian"]
    cols = [
        Col("Lp.", "id", "patient_id"),
        cat("Płeć", ["Kobieta", "Mężczyzna"]),
        date("Rok urodzenia", "birth_date", 1935, 40),
        date("Data badania", "exam_date", 2016, 4),
        date("Data operacji", "surgery_date", 2010, 5),
        dec("Podana Aktywnosc", "injected_activity", 150, 400, (0, 500), low=-1.0, high=520.0),
        dec("Glikemia", "glucose", 70, 200, (0, 500), low=-1.0, high=520.0, z=480.0),
        dec("CRP(6 mcy)", "crp", 0.5, 80, z=900.0),
        dec("WBC(6 mcy)", "wbc", 3, 20, z=150.0),
        dec("SUV (max) w miejscu zapalenia", "suv_focus", 2, 14, (0, 70), low=-0.5, high=71.0,
            z=60.0),
        dec("SUV (max) tła", "suv_background", 1, 4, (0, 70), low=-0.5, high=75.0, z=40.0),
        dec("tumor to background ratio", "tbr", 0.1, 0.9, (0, 1), low=-0.05, high=1.5),
        cat("uproszczona klasyfikacja", ["ob. nacz. biodrowe", "aorty piersiowej"]),
        cat("Rodzaj protezy", ["StentGraft", "Proteza"]),
        cat("Material", ["dakron", "PTFE", "poliester"], "material"),
        cat("imageTypeOurClassification", ["1", "2", "3"], "image_type"),
        Col("Gorączka", "taknie", "fever"),
        prawda("cukrzyca", "diabetes"),
        prawda("Nikotynizm", "smoking"),
        prawda("zgon", "death"),
        prawda("Wcześniej operowany w danym miejsu", "prior_surgery_here"),
        *[prawda(s) for s in signs],
        int01("tetniakPowodOper", "cause_aneurysm"),
        int01("lerichPowodOper", "cause_leriche"),
        int01("infectionOfPrevious", "cause_prior_infection"),
        int01("nieznany", "cause_unknown"),
        *[int01(h, a) for h, a in locs],
        *[int01(h, a) for h, a in micro],
        *[int01(h) for h in ct],
        Col("pęcherzyki powietrza", "taknie", "ct_gas"),
        *[Col(f"_c{i}", "junk") for i in range(4)],
    ]
    # two exported columns share the header "skala"; Spark suffixes them by
    # ordinal and the spec renames them positionally (studyGrScalaA.scala:24)
    scales = {91: Col("skala", "scale3", "skala3Stopnie"),
              92: Col("skala", "scale5", "skala5Stopnie")}
    return _pad(cols, 118, scales)


def _control_cols() -> list[Col]:
    cols = [
        Col("Lp.", "id", "patient_id"),
        cat("Płeć", ["Kobieta", "Mężczyzna"]),
        date("data badania 1", "exam_date", 2016, 4, gate=True),
        Col("Rok z peselu", "year", "birth_year", dict(start=1935, span=40)),
        date("data wszczepienia stentgraftu", "implant_date", 2008, 6),
        date("ostatnia wizyta pacjenta bez stwierdzonego zakażenia protezy",
             "last_clean_visit", 2017, 3),
        dec("SUV protezy", "suv_focus", 1.5, 6, (0, 70), low=-0.5, high=72.0, z=45.0),
        dec("tło", "suv_background", 1, 3, (0, 70), low=-0.5, high=71.0),
        dec("aktywnosc w dniu podania [MBq]", "injected_activity", 150, 400, (0, 500),
            low=-2.0, high=510.0),
        dec("glukoza w dniu podania [mg/dl]", "glucose", 70, 200, (0, 500), low=-1.0,
            high=505.0, z=470.0),
        cat("stentgraft czy proteza", ["stentgraft", "proteza"], "Rodzaj protezy"),
        cat("typ", ["Y", "B", "inny"], "classification"),
        cat("powód standaryzowany", ["kontrola", "ból", "gorączka", "inne"],
            "standardized_reason"),
        cat("skierowany", ["chirurgia", "POZ", "internista"], "referral"),
        int01("proteza udowo - podkolanowa"),
        int01("przetoka pachwinowa"),
        int01("cukrzyca", "diabetes"),
        int01("zarejestrowany zgon"),
        int01("reoperacje"),
        *[Col(f"_c{i}", "junk") for i in range(5)],
        Col("posiewy18", "junk"),
        Col("_c25", "junk"),
        Col("posiewy27", "junk"),
    ]
    scales = {29: Col("skala", "scale3", "skala3Stopnie"),
              30: Col("skala", "scale5", "skala5Stopnie")}
    return _pad(cols, 100, scales)


@dataclass
class Cohort:
    name: str
    cols: list[Col]
    #: (division name, cleaned columns): the quality stage reads its
    #: must-not-be-null set from these (stydyGrB.scala:33,64)
    divisions: list[tuple[str, list[str]]]
    null_divisions: list[str]
    zscore: list[str]

    def ranges(self) -> list[RangeSpec]:
        return [RangeSpec(c.name, *c.args["range"]) for c in self.cols
                if c.kind == "dec" and c.args["range"] is not None]

    def cleaning_spec(self) -> CleaningSpec:
        """The cohort's declarative repair, derived from its column table."""
        kinds: dict[str, list[str]] = {}
        renames, positional, drops = {}, {}, []
        for i, c in enumerate(self.cols):
            if c.kind in ("scale3", "scale5"):
                positional[i] = c.alias
            elif c.alias:
                renames[c.header] = c.alias
            if c.kind == "junk":
                drops.append(c.header)
            kinds.setdefault(c.kind, []).append(c.name)
        gate = ["Płeć"] + [c.name for c in self.cols if c.kind == "date" and c.args["gate"]]
        casts = [
            CastRule(kinds.get("dec", []), "double", casting.comma_decimal),
            CastRule(kinds.get("date", []), None, casting.to_date),
            CastRule(kinds.get("taknie", []), None, casting.boolean_from_yes_no),
            CastRule(kinds.get("prawda", []), None,
                     lambda c: casting.boolean_from_string(c, "prawda")),
            CastRule(kinds.get("int01", []), "boolean"),
        ]
        labels = {}
        if self.name == "study":
            labels = {
                "Rodzaj protezy": {"StentGraft": "stentgraft", "Proteza": "proteza"},
                "uproszczona klasyfikacja": {"ob. nacz. biodrowe": "Y", "aorty piersiowej": "B"},
            }
        return CleaningSpec(renames=renames, positional_renames=positional, drops=drops,
                            not_null_gate=gate, casts=[c for c in casts if c.columns],
                            label_maps=labels)


COHORTS = [
    Cohort("study", _study_cols(),
           divisions=[("suv", ["suv_focus", "suv_background", "tbr"]),
                      ("technicalData", ["injected_activity", "glucose"]),
                      ("labs", ["crp", "wbc"]),
                      ("dates", ["exam_date", "surgery_date"])],
           null_divisions=["suv", "technicalData", "labs"],
           zscore=["suv_focus", "suv_background", "glucose", "crp", "wbc"]),
    Cohort("control", _control_cols(),
           divisions=[("suv", ["suv_focus", "suv_background"]),
                      ("technicalData", ["injected_activity", "glucose"])],
           null_divisions=["suv", "technicalData"],
           zscore=["suv_focus", "glucose"]),
]


def _str(values: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(values), pa.string())


def _cents_text(cents: np.ndarray) -> pa.Array:
    """Integer cents -> "12,34" / "-0,50" comma-decimal text, vectorised."""
    sign = np.where(cents < 0, "-", "")
    a = np.abs(cents)
    whole = pc.cast(pa.array(a // 100), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(a % 100), pa.string()), 2, "0")
    signed = pc.binary_join_element_wise(pa.array(sign), whole, "")
    return pc.binary_join_element_wise(signed, frac, ",")


def _with_nulls(arr: pa.Array, null_mask: np.ndarray) -> pa.Array:
    if not null_mask.any():
        return arr
    return pc.if_else(pa.array(null_mask), pa.nulls(len(arr), arr.type), arr)


def _check_z(name: str, values: np.ndarray) -> int:
    """Exact |z| > 3 count (population std, as quality_report computes it);
    raises if any value sits within Z_MARGIN of the threshold."""
    z = np.abs((values - values.mean()) / values.std())
    near = np.abs(z - Z_THRESHOLD) < Z_MARGIN
    if near.any():
        raise ValueError(f"{name}: {int(near.sum())} values with |z| near {Z_THRESHOLD}")
    return int((z > Z_THRESHOLD).sum())


def generate(cohort: Cohort, n: int, rng: np.random.Generator) -> tuple[pa.Table, dict]:
    """One raw cohort table of ``n`` rows plus its recorded expectations:
    rows surviving the gate, the exact quality report, and the distinct
    category values per cleaned column."""
    gated = np.zeros(n, dtype=bool)
    gated[rng.choice(n, max(1, n * GATED_PER_MILLE // 1000), replace=False)] = True
    kept = np.flatnonzero(~gated)
    gate_cols = {c.name for c in cohort.cols if c.kind == "date" and c.args["gate"]}
    # the gate drops rows with NULL gender or NULL gate date: split the
    # gated rows between them
    gate_by_date = gated & (np.arange(n) % 2 == 0) if gate_cols else np.zeros(n, bool)
    gate_by_gender = gated & ~gate_by_date

    report: dict[tuple[str, str], int] = {}
    distinct: dict[str, list[str]] = {}
    null_checked = {c for d, cs in cohort.divisions if d in cohort.null_divisions for c in cs}
    arrays = []
    for c in cohort.cols:
        kind, a = c.kind, c.args
        if kind == "id":
            arr = _str(np.arange(1, n + 1))
        elif kind == "cat":
            choice = rng.integers(0, len(a["choices"]), n)
            arr = pc.take(pa.array(a["choices"]), pa.array(choice))
            nulls = rng.random(n) < a["null_rate"]
            if c.name == "Płeć":
                nulls = gate_by_gender
            arr = _with_nulls(arr, nulls)
            present = np.unique(choice[kept][~nulls[kept]])
            distinct[c.name] = sorted(a["choices"][i] for i in present)
        elif kind == "date":
            start = (np.datetime64(f"{a['start']}-01-01") - DAY0).astype(int)
            days = start + rng.integers(0, 365 * a["span"], n)
            arr = pc.cast(pa.array(days.astype("int32"), pa.date32()), pa.string())
            arr = _with_nulls(arr, gate_by_date if a["gate"] else np.zeros(n, bool))
        elif kind == "year":
            arr = _str(a["start"] + rng.integers(0, a["span"], n))
        elif kind == "dec":
            cents = rng.integers(int(a["lo"] * 100), int(a["hi"] * 100) + 1, n)
            nulls = np.zeros(n, dtype=bool)
            k = max(1, n // 200)
            picks = rng.choice(kept, 3 * k + max(2, n // 40), replace=False)
            low, high, zs, nul = picks[:k], picks[k:2 * k], picks[2 * k:3 * k], picks[3 * k:]
            if a["low"] is not None:
                cents[low] = round(a["low"] * 100)
            if a["high"] is not None:
                cents[high] = round(a["high"] * 100)
            if a["z"] is not None:
                cents[zs] = round(a["z"] * 100)
            if c.name in null_checked:
                nulls[nul] = True
                report[(DESC_NULLS, c.name)] = len(nul)
            vals = cents[kept][~nulls[kept]] / 100.0
            if a["range"] is not None:
                lo, hi = a["range"]
                report[(DESC_RANGE, c.name)] = int(((vals < lo) | (vals > hi)).sum())
            if c.name in cohort.zscore:
                report[(DESC_OUTLIER, c.name)] = _check_z(c.name, vals)
            arr = _with_nulls(_cents_text(cents), nulls)
        elif kind == "prawda":
            arr = pc.if_else(pa.array(rng.random(n) < 0.35), "Prawda", "")
        elif kind == "taknie":
            arr = _with_nulls(pc.if_else(pa.array(rng.random(n) < 0.4), "tak", "nie"),
                              rng.random(n) < 0.05)
        elif kind == "int01":
            arr = _with_nulls(_str(rng.integers(0, 2, n)), rng.random(n) < 0.05)
        elif kind in ("scale3", "scale5"):
            top = 3 if kind == "scale3" else 5
            choice = rng.integers(1, top + 1, n)
            arr = _str(choice)
            distinct[c.name] = [str(v) for v in np.unique(choice[kept])]
        elif kind == "junk":
            arr = pa.nulls(n, pa.string())
        else:
            raise ValueError(f"unknown column kind {kind}")
        arrays.append(arr)
    table = pa.Table.from_arrays(arrays, names=[c.header for c in cohort.cols])
    expect = {
        "rows": n,
        "rows_after_gate": int(len(kept)),
        "report": {k: v for k, v in report.items() if v > 0},
        "distinct": distinct,
    }
    return table, expect


def write_tsv(table: pa.Table, path: str) -> int:
    """Tab-separated export with a header line; returns bytes written."""
    pacsv.write_csv(table, path, pacsv.WriteOptions(delimiter="\t", quoting_style="none"))
    return os.path.getsize(path)
