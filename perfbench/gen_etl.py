"""Seeded input generator for the `etl` workload.

Writes the paper's ETL inputs in the FIXTURES.md A1-A4 shapes:

* World Bank population JSON envelopes `[ {page meta}, [rows] ]`, one file
  per page of at most 2,000 rows (the API's `per_page`), per fetch year;
* the World Bank country-metadata envelope, with "Aggregates" regions;
* the UN crime CSV with a 2-line preamble above its header;
* the Eurostat immigration CSV (24 columns);
* both lookups: `country_lookup(alias, canonical_name)` and
  `iso2_to_iso3(iso2, iso3)`.

It plants rows that each reference cleansing rule drops (fixed counts for
the aggregate, code, name, sign and slice rules; seeded shares of null,
non-positive and non-numeric values) and Eurostat ":" markers, which the
reference keeps as 0, and writes `expected.json`: the kept/dropped count per rule and per stage, and the
row count and digest of every star-schema table and report read. The digest
of a table is the SHA-256 of its rows rendered one per line (fields joined by
`|`, decimals in plain notation at their declared scale) and sorted.

The same seed gives byte-identical files. Usage:

    python3 gen_etl.py --seed 7 --out DIR --countries 2400 --slices 2

`--countries` sets the synthetic country count (2,000 or more gives
multi-page population fetches); `--slices` the UN rows per country-year.
"""

import argparse
import hashlib
import json
import os
import random
import string
from decimal import ROUND_HALF_EVEN, ROUND_HALF_UP, Decimal

PER_PAGE = 2000
POP_YEARS = list(range(2017, 2024))        # window kept: 2018-2022
UN_YEARS = list(range(2013, 2023))         # kept: >= 2018
EUROSTAT_YEARS = list(range(2012, 2024))   # kept: joins a population year
WINDOW = range(2018, 2023)
UNIT_RATE = "Rate per 100,000 population"
EUROSTAT_HEADER = [
    "STRUCTURE", "STRUCTURE_ID", "STRUCTURE_NAME", "freq", "Time frequency",
    "citizen", "Country of citizenship", "agedef", "Age definition", "age",
    "Age class", "unit", "Unit of measure", "sex", "Sex", "geo",
    "Geopolitical entity (reporting)", "TIME_PERIOD", "Time", "OBS_VALUE",
    "Observation value", "OBS_FLAG", "Observation status (Flag)",
    "CONF_STATUS"]
UN_HEADER = ["Iso3_code", "Country", "Region", "Year", "Category", "Sex",
             "Age", "Indicator", "Unit of measurement", "VALUE"]


def half_even(x, places):
    """Spark's `bround` on a double: half-even on its shortest decimal form."""
    q = Decimal(1).scaleb(-places)
    return Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_EVEN)


def plain(d):
    return format(d, "f")


def digest(lines):
    body = "\n".join(sorted(lines))
    return {"rows": len(lines),
            "sha256": hashlib.sha256(body.encode("utf-8")).hexdigest()}


def csv_field(s):
    s = str(s)
    if any(c in s for c in ',"\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


class Ledger:
    """Per-rule drop counts in each stage's pipeline order."""

    def __init__(self):
        self.stages = {}

    def rows_in(self, stage):
        st = self.stages.setdefault(stage, {"rows_in": 0, "rules": {}})
        st["rows_in"] += 1

    def drop(self, stage, rule):
        rules = self.stages[stage]["rules"]
        rules[rule] = rules.get(rule, 0) + 1

    def render(self, kept):
        out = {}
        for stage, st in self.stages.items():
            dropped = sum(st["rules"].values())
            assert st["rows_in"] - dropped == kept[stage], stage
            out[stage] = {"rows_in": st["rows_in"], "rows_kept": kept[stage],
                          "rows_dropped": dropped,
                          "dropped_by_rule": dict(sorted(st["rules"].items()))}
        return out


def codes(rng, length, n, taken):
    out = []
    while len(out) < n:
        c = "".join(rng.choice(string.ascii_uppercase) for _ in range(length))
        if c not in taken:
            taken.add(c)
            out.append(c)
    return out


def generate(seed, countries, slices):
    rng = random.Random(seed)
    ledger = Ledger()
    files = {}

    # --- countries, aggregates and lookups (A2 metadata, A4) -------------
    taken3 = set()
    iso3s = codes(rng, 3, countries, taken3)
    aggregates = codes(rng, 3, 12, taken3)
    iso2s = codes(rng, 2, min(countries * 3 // 4, 600), set())
    unmapped_iso2 = codes(rng, 2, 8, set(iso2s))
    people = []
    for i, c in enumerate(iso3s):
        canonical = "Country " + c.title() + " " + rng.choice(
            ["Republic", "Kingdom", "Islands", "Federation", "Union", "Land"])
        in_lookup = rng.random() < 0.8
        raw = rng.choice([canonical, " " + canonical + " ",
                          canonical.upper(), "  " + canonical.lower()])
        if not in_lookup:
            raw = "La " + canonical
        name = canonical if (in_lookup and raw.strip().lower() ==
                             canonical.lower()) else raw
        people.append({"iso3": c, "iso2": iso2s[i] if i < len(iso2s) else None,
                       "canonical": canonical, "raw": raw, "name": name,
                       "in_lookup": in_lookup})
    lookup_rows = [(p["canonical"].lower(), p["canonical"])
                   for p in people if p["in_lookup"]]
    rng.shuffle(lookup_rows)
    files["country_lookup.csv"] = "alias,canonical_name\n" + "".join(
        f"{csv_field(a)},{csv_field(n)}\n" for a, n in lookup_rows)
    iso_rows = [(p["iso2"], p["iso3"]) for p in people if p["iso2"]]
    rng.shuffle(iso_rows)
    files["iso2_to_iso3.csv"] = "iso2,iso3\n" + "".join(
        f"{a},{b}\n" for a, b in iso_rows)
    regions = ["Europe & Central Asia", "Sub-Saharan Africa", "South Asia",
               "Latin America & Caribbean", "East Asia & Pacific"]
    meta = [{"id": p["iso3"], "iso2Code": p["iso2"] or "", "name":
             p["canonical"], "region": {"id": "R", "value":
                                        rng.choice(regions)}}
            for p in people]
    meta += [{"id": a, "iso2Code": "", "name": "Aggregate " + a,
              "region": {"id": "NA", "value": "Aggregates"}}
             for a in aggregates]
    rng.shuffle(meta)
    files["countries_meta.json"] = json.dumps(
        [{"page": 1, "pages": 1, "per_page": 400, "total": len(meta)},
         meta], sort_keys=True) + "\n"

    # --- population envelopes (A2), planted rows per fetch year ----------
    population = {}          # (iso3, year) -> rounded population
    kept_countries = {}
    for year in POP_YEARS:
        rows = []            # (row, drop rule or None)
        for p in people:
            r = rng.random()
            value = rng.randrange(10_000, 200_000_000)
            if r < 0.02:
                value = None
            elif r < 0.03:
                value = rng.choice([0, -value])
            elif r < 0.10:
                value = value + 0.5
            rows.append(({"countryiso3code": p["iso3"], "country":
                          {"id": p["iso2"] or "", "value": p["raw"]},
                          "value": value, "date": str(year)}, p))
        for a in aggregates:
            rows.append(({"countryiso3code": a, "country": {"id": "AG",
                          "value": "Aggregate " + a},
                          "value": rng.randrange(10**8, 10**9),
                          "date": str(year)}, "aggregate"))
        for bad in ["", "XXXX", "AB", "ABCDE"]:
            rows.append(({"countryiso3code": bad, "country": {"id": "XX",
                          "value": "Noland"}, "value": 1000,
                          "date": str(year)}, "bad_iso3"))
        for p in rng.sample(people, 3):
            rows.append(({"countryiso3code": p["iso3"], "country":
                          {"id": p["iso2"] or "", "value": None},
                          "value": 1000, "date": str(year)}, "null_name"))
        rng.shuffle(rows)
        for row, who in rows:
            ledger.rows_in("population")
            if isinstance(who, str):
                ledger.drop("population", who)
            elif row["value"] is None:
                ledger.drop("population", "null_value")
            elif row["value"] <= 0:
                ledger.drop("population", "non_positive")
            elif year not in WINDOW:
                ledger.drop("population", "out_of_window")
            else:
                population[(who["iso3"], year)] = int(
                    half_even(row["value"], 0))
                kept_countries[who["iso3"]] = who["name"]
        pages = [rows[i:i + PER_PAGE] for i in range(0, len(rows), PER_PAGE)]
        for k, page in enumerate(pages, 1):
            head = {"page": k, "pages": len(pages), "per_page": PER_PAGE,
                    "total": len(rows), "sourceid": "2",
                    "lastupdated": "2024-01-01"}
            files[f"population/{year}/page_{k:03d}.json"] = json.dumps(
                [head, [r for r, _ in page]], sort_keys=True) + "\n"

    # --- UN crime CSV with a 2-line preamble (A3) -------------------------
    crime = {}
    europe = {p["iso3"] for p in people
              if p["iso3"] in kept_countries and rng.random() < 0.6}
    slice_values = {
        "Category": ["Total", "Theft", "Assault", "Fraud"],
        "Sex": ["Total", "Male", "Female"],
        "Age": ["Total", "Adult", "Juvenile"],
        "Indicator": ["Persons convicted", "Persons prosecuted"],
        "Unit of measurement": [UNIT_RATE, "Counts"]}
    total_slice = {k: v[0] for k, v in slice_values.items()}
    un_rows = []
    for p in people:
        region = "Europe" if p["iso3"] in europe else rng.choice(
            ["Africa", "Americas", "Asia", "Oceania"])
        for year in UN_YEARS:
            picks = [total_slice]
            while len(picks) < slices:
                sl = {k: rng.choice(v) for k, v in slice_values.items()}
                if sl != total_slice:
                    picks.append(sl)
            for sl in picks:
                value = f"{rng.randrange(0, 500_000) / 1000:.3f}"
                un_rows.append([p["iso3"], p["canonical"], region, str(year),
                                sl, value])
    for _ in range(40):
        p = rng.choice(people)
        un_rows.append([p["iso3"], p["canonical"], "Europe",
                        str(rng.choice(WINDOW)), total_slice,
                        rng.choice(["n/a", "", "..", "1,5"])])
    for _ in range(40):
        p = rng.choice(people)
        un_rows.append([p["iso3"], p["canonical"], "Europe",
                        str(rng.choice(WINDOW)), total_slice,
                        f"-{rng.randrange(1, 9999) / 100:.2f}"])
    for bad in ["", "DE", "DEUX", "E1"] * 10:
        un_rows.append([bad, "Nowhere", "Europe", str(rng.choice(WINDOW)),
                        total_slice, "12.500"])
    rng.shuffle(un_rows)
    seen_total = set()
    lines = []
    for iso3, country, region, year, sl, value in un_rows:
        ledger.rows_in("crime")
        try:
            num = float(value)
        except ValueError:
            num = None
        y = int(year)
        if num is None:
            ledger.drop("crime", "non_numeric")
        elif num < 0:
            ledger.drop("crime", "negative")
        elif len(iso3) != 3:
            ledger.drop("crime", "bad_iso3")
        elif sl != total_slice:
            ledger.drop("crime", "non_total_slice")
        elif y < 2018:
            ledger.drop("crime", "out_of_window")
        elif region != "Europe":
            ledger.drop("crime", "non_europe")
        else:
            # One all-Total Europe row per country-year by construction;
            # the planted invalid rows above never reach this branch.
            assert (iso3, y) not in seen_total
            seen_total.add((iso3, y))
            crime[(iso3, y)] = half_even(num, 2)
        lines.append(",".join(csv_field(x) for x in [
            iso3, country, region, year, sl["Category"], sl["Sex"],
            sl["Age"], sl["Indicator"], sl["Unit of measurement"], value]))
    files["un_crime.csv"] = (
        "UNODC persons convicted extract - synthetic benchmark input\n"
        "Generated from a seed - junk preamble line two\n"
        + ",".join(csv_field(h) for h in UN_HEADER) + "\n"
        + "".join(l + "\n" for l in lines))

    # --- Eurostat immigration CSV (A1) ------------------------------------
    immigration = {}
    eu_rows = []
    for p in people:
        if not p["iso2"]:
            continue
        for year in EUROSTAT_YEARS:
            r = rng.random()
            value = str(rng.randrange(100, 900_000))
            if r < 0.03:
                value = ":"
            elif r < 0.05:
                value = rng.choice(["abc", "n.a."])
            eu_rows.append((p["iso2"], p["canonical"], year, value, p))
    for year in EUROSTAT_YEARS:
        eu_rows.append(("EU27_2020", "European Union", year, "1000000",
                        "bad_iso2"))
        for code in unmapped_iso2[:2]:
            eu_rows.append((code, "Unmapped", year, "500", "unmapped"))
    rng.shuffle(eu_rows)
    lines = []
    for geo, label, year, value, who in eu_rows:
        ledger.rows_in("immigration")
        if who == "bad_iso2":
            ledger.drop("immigration", "bad_iso2")
        elif value not in (":",) and not value.isdigit():
            ledger.drop("immigration", "non_numeric")
        elif who == "unmapped":
            ledger.drop("immigration", "no_population")
        elif (who["iso3"], year) not in population:
            ledger.drop("immigration", "no_population")
        else:
            total = 0.0 if value == ":" else float(value)
            rate = total / float(population[(who["iso3"], year)]) * 100000.0
            immigration[(who["iso3"], year)] = half_even(rate, 2)
        flag = rng.choice(["", "", "b", "e", "p"])
        lines.append(",".join(csv_field(x) for x in [
            "dataflow", "ESTAT:TPS00176(1.0)", "Immigration", "A", "Annual",
            "TOTAL", "Total", "COMPLET", "Age reached", "TOTAL", "Total",
            "NR", "Number", "T", "Total", geo, label, year, year, value,
            value, flag, "", ""]))
    files["eurostat_immigration.csv"] = (
        ",".join(csv_field(h) for h in EUROSTAT_HEADER) + "\n"
        + "".join(l + "\n" for l in lines))

    # --- expected star schema, report reads and ledger --------------------
    tables = {
        "country": digest([f"{c}|{n}" for c, n in kept_countries.items()]),
        "year": digest([str(y) for y in WINDOW]),
        "population": digest([f"{v}|{c}|{y}"
                              for (c, y), v in population.items()]),
        "crime": digest([f"{plain(v)}|{c}|{y}"
                         for (c, y), v in crime.items()]),
        "immigration": digest([f"{plain(v)}|{c}|{y}"
                               for (c, y), v in immigration.items()]),
    }
    both = sorted(set(crime) & set(immigration))
    report_pairs = digest([
        f"{kept_countries[c]}|{c}|{y}|{plain(crime[(c, y)])}|"
        f"{plain(immigration[(c, y)])}" for c, y in both])
    by_year = {}
    for c, y in both:
        acc = by_year.setdefault(y, [Decimal(0), Decimal(0), 0])
        acc[0] += crime[(c, y)]
        acc[1] += immigration[(c, y)]
        acc[2] += 1
    q6 = Decimal("0.000001")
    report_yearly = digest([
        f"{y}|{plain((a / n).quantize(q6, rounding=ROUND_HALF_UP))}|"
        f"{plain((b / n).quantize(q6, rounding=ROUND_HALF_UP))}|{n}"
        for y, (a, b, n) in by_year.items()])
    kept = {"population": len(population), "crime": len(crime),
            "immigration": len(immigration)}
    sources = {
        "population_pages": sum(1 for f in files if f.startswith("population/")),
        "population_rows": ledger.stages["population"]["rows_in"],
        "meta_rows": len(meta),
        "crime_rows": ledger.stages["crime"]["rows_in"],
        "immigration_rows": ledger.stages["immigration"]["rows_in"],
        "lookup_rows": len(lookup_rows),
        "iso_rows": len(iso_rows),
    }
    expected = {
        "seed": seed, "countries": countries, "slices": slices,
        "sources": sources,
        "ledger": ledger.render(kept),
        "country_rows": len(kept_countries),
        "tables": tables,
        "reports": {"crime_vs_immigration": report_pairs,
                    "yearly_averages": report_yearly},
        "population_years": POP_YEARS,
    }
    files["expected.json"] = json.dumps(expected, indent=1,
                                        sort_keys=True) + "\n"
    return files


def write(files, out):
    for rel, body in sorted(files.items()):
        path = os.path.join(out, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8", newline="") as f:
            f.write(body)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--countries", type=int, required=True)
    ap.add_argument("--slices", type=int, required=True)
    a = ap.parse_args()
    write(generate(a.seed, a.countries, a.slices), a.out)


if __name__ == "__main__":
    main()
