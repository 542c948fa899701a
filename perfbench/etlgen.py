"""Seeded inputs and ground truth for the etl_load workload.

`generate(seed, out_dir)` writes the reference ETL's source files, in the
shapes FIXTURES.md describes, plus what the ETL must make of them:

  meta/countries.json         World-Bank country metadata, with "Aggregates"
  lookups/names.csv           name normalisation lookup (alias, canonical_name)
  lookups/iso2to3.csv         ISO2 -> ISO3 lookup (iso2, iso3)
  d<k>/pop/y<year>/page_*.json World-Bank population envelopes, 2,000 rows/page
  d<k>/crime.csv              UN crime extract: two preamble lines, many slices
  d<k>/immigration.csv        Eurostat linear CSV with ":" missing markers
  cdc/crime.csv               correction feed for fact_crime (upsert/delete)
  truth/<table>.jsonl         every star-schema table after the whole pass
  expected.json               raw and per-step row counts

Delivery 1 (d1) is the initial load; delivery 2 (d2) is a later extract whose
years overlap d1, so its rows for keys d1 already loaded must be skipped.

The generator mirrors the ETL's rules row by row to predict the output. Dirty
rows of every class the reference filters are mixed in at fixed rates. Values
whose rounding could depend on how a runtime prints a double (a rate within
1e-6 of a half-cent tie) are drawn again, so the prediction is exact.
"""
import csv
import itertools
import json
import os
import random
import string
from decimal import ROUND_HALF_EVEN, Decimal

WINDOW = (2018, 2022)
PAGE_ROWS = 2000
COUNTRIES = 5000  # ISO3 keys drawn from the 26^3 three-letter codes
DELIVERIES = {1: {"pop": range(2017, 2023), "crime": range(2017, 2023),
                  "immigration": range(2012, 2023)},
              2: {"pop": range(2021, 2024), "crime": range(2021, 2024),
                  "immigration": range(2021, 2024)}}
CRIME_HEADER = ["Iso3_code", "Country", "Region", "Year", "Category", "Sex",
                "Age", "Indicator", "Unit of measurement", "VALUE"]
RATE_UNIT = "Rate per 100,000 population"
TOTAL_SLICE = ("Total", "Total", "Total", "Persons convicted", RATE_UNIT)
OTHER_SLICES = [s for s in itertools.product(
    ["Total", "Theft", "Burglary", "Assault"], ["Total", "Male", "Female"],
    ["Total", "Adult", "Juvenile"], ["Persons convicted", "Persons arrested"],
    [RATE_UNIT, "Counts"]) if s != TOTAL_SLICE]
IMMIGRATION_HEADER = [
    "STRUCTURE", "STRUCTURE_ID", "STRUCTURE_NAME", "freq", "Time frequency",
    "citizen", "Country of citizenship", "agedef", "Age definition", "age",
    "Age class", "unit", "Unit of measure", "sex", "Sex", "geo",
    "Geopolitical entity (reporting)", "TIME_PERIOD", "Time", "OBS_VALUE",
    "Observation value", "OBS_FLAG", "Observation status (Flag)",
    "CONF_STATUS"]


def half_even(x, places):
    """Spark's bround on a double: the double's decimal string, rounded."""
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_EVEN))


def near_tie(x, places):
    scaled = abs(x) * 10 ** places
    return abs(scaled - int(scaled) - 0.5) < 1e-6


def iso3_codes():
    return ["".join(t) for t in itertools.product(string.ascii_uppercase,
                                                  repeat=3)]


def iso2_codes():
    return ["".join(t) for t in itertools.product(string.ascii_uppercase,
                                                  repeat=2)]


def _name(rng):
    word = lambda: rng.choice(string.ascii_uppercase) + "".join(
        rng.choice(string.ascii_lowercase) for _ in range(rng.randint(3, 8)))
    return word() if rng.random() < 0.7 else word() + " " + word()


class _Truth:
    """Predicted output of one delivery's transform."""

    def __init__(self):
        self.dim = {}    # iso3 -> country_name (min over surviving rows)
        self.pop = {}    # (iso3, year) -> population
        self.crime = []  # (convicts, iso3, year), duplicates kept
        self.imm = {}    # (iso3, year) -> immigration_per_100000


def _write_pages(path, rows, rng):
    os.makedirs(path, exist_ok=True)
    pages = [rows[i:i + PAGE_ROWS] for i in range(0, len(rows), PAGE_ROWS)]
    for i, page in enumerate(pages):
        meta = {"page": i + 1, "pages": len(pages), "per_page": PAGE_ROWS,
                "total": len(rows), "sourceid": "2",
                "lastupdated": "2024-01-01"}
        with open(os.path.join(path, f"page_{i:03d}.json"), "w") as f:
            f.write(json.dumps([meta, page], separators=(",", ":")))


def _population(rng, d, codes, aggregates, names, lookup, out, truth):
    """World-Bank pages for delivery d; fills truth.dim and truth.pop."""
    rows_total = 0
    for year in DELIVERIES[d]["pop"]:
        rows = []
        for code in codes:
            if rng.random() < 0.1:
                continue
            name = names[code]
            raw = rng.choice([name, f" {name} ", name.lower(), f"  {name}"])
            if rng.random() < 0.01:
                raw = None
            r = rng.random()
            if r < 0.02:
                value = None
            elif r < 0.03:
                value = 0
            elif r < 0.035:
                value = -rng.randint(1, 1000)
            elif r < 0.10:
                value = rng.randint(10_000, 300_000_000) + 0.5
            elif r < 0.15:
                value = rng.randint(10_000, 300_000_000) + 0.25
            else:
                value = rng.randint(10_000, 300_000_000)
            rows.append({"countryiso3code": code,
                         "country": {"id": code[:2], "value": raw},
                         "value": value, "date": str(year)})
            if (code not in aggregates and raw is not None
                    and value is not None and value > 0
                    and WINDOW[0] <= year <= WINDOW[1]):
                pop = int(half_even(float(value), 0))
                truth.pop[(code, year)] = pop
                resolved = lookup.get(raw.strip(" ").lower(), raw)
                if code not in truth.dim or resolved < truth.dim[code]:
                    truth.dim[code] = resolved
        for _ in range(len(rows) // 100):
            bad = rng.choice(["", rng.choice(codes)[:2],
                              rng.choice(codes) + "X"])
            rows.append({"countryiso3code": bad,
                         "country": {"id": "XX", "value": "Noland"},
                         "value": rng.randint(1, 10_000), "date": str(year)})
        rng.shuffle(rows)
        _write_pages(os.path.join(out, f"d{d}", "pop", f"y{year}"), rows, rng)
        rows_total += len(rows)
    return rows_total


def _crime_value(rng):
    """A VALUE string, never within reach of a rounding tie unless the tie
    is exact in binary (x.125, x.375, ...)."""
    r = rng.random()
    whole = int(r * 901)
    if r * 901 - whole < 0.03:
        return f"{whole}.{rng.choice(('125', '375', '625', '875'))}"
    return f"{whole}.{int(rng.random() * 100):02d}{rng.choice('012346789')}"


def _crime(rng, d, europe, others, names, out, truth):
    path = os.path.join(out, f"d{d}", "crime.csv")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    n = 0
    with open(path, "w", newline="") as f:
        f.write("UNODC persons convicted extract - generated for testing\n")
        f.write("Downloaded 2024 - junk preamble line two\n")
        w = csv.writer(f, lineterminator="\n")
        w.writerow(CRIME_HEADER)
        for year in DELIVERIES[d]["crime"]:
            for code, region in itertools.chain(
                    ((c, "Europe") for c in europe),
                    ((c, rng.choice(["Americas", "Asia", "Africa"]))
                     for c in others)):
                slices = [TOTAL_SLICE] if rng.random() < 0.95 else []
                slices += rng.sample(OTHER_SLICES, 2)
                if rng.random() < 0.02:
                    slices.append(TOTAL_SLICE)  # duplicate delivery row
                for sl in slices:
                    value = _crime_value(rng)
                    iso = code
                    r = rng.random()
                    if r < 0.01:
                        value = rng.choice(["..", "n/a", ""])
                    elif r < 0.015:
                        value = f"-{rng.randint(1, 900)}.5"
                    elif r < 0.02:
                        iso = rng.choice([code[:2], code + "X"])
                    w.writerow([iso, names.get(code, code), region, year,
                                *sl[:4], sl[4], value])
                    n += 1
                    if (sl == TOTAL_SLICE and region == "Europe"
                            and iso == code and year >= WINDOW[0]
                            and r >= 0.015):
                        truth.crime.append((half_even(float(value), 2), code,
                                            year))
    return n


def _immigration(rng, d, iso2, iso2to3, truth, out):
    path = os.path.join(out, f"d{d}", "immigration.csv")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    n = 0
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(IMMIGRATION_HEADER)
        for year in DELIVERIES[d]["immigration"]:
            for geo in iso2 + ["EU27_2020"]:
                iso3 = iso2to3.get(geo, geo)
                pop = truth.pop.get((iso3, year)) if len(geo) == 2 else None
                r = rng.random()
                if r < 0.05:
                    obs, value = ":", 0.0
                elif r < 0.07:
                    obs, value = "", None
                else:
                    while True:
                        v = rng.randint(100, 900_000)
                        if pop is None or not near_tie(v / pop * 100000.0, 2):
                            break
                    obs, value = str(v), float(v)
                flag = rng.choice(["", "", "b", "e", "p"])
                w.writerow(["dataflow", "ESTAT:TPS00176(1.0)", "Immigration",
                            "A", "Annual", "TOTAL", "Total", "COMPLET",
                            "Age reached", "TOTAL", "Total", "NR", "Number",
                            "T", "Total", geo, f"Entity {geo}", year, year,
                            obs, obs, flag, "", ""])
                n += 1
                if pop is not None and value is not None:
                    truth.imm[(iso3, year)] = half_even(
                        value / float(pop) * 100000.0, 2)
    return n


def _write_jsonl(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.writelines(line + "\n" for line in lines)


def generate(seed, out):
    """Writes the inputs and ground truth for `seed` under `out`; returns
    the expected row counts (also written to expected.json)."""
    rng = random.Random(seed)
    codes = sorted(rng.sample(iso3_codes(), COUNTRIES))
    aggregates = set(rng.sample(codes, len(codes) // 100))
    names = {c: _name(rng) for c in codes}
    lookup = {}
    for c in codes:
        if c not in aggregates and rng.random() < 0.7:
            lookup.setdefault(names[c].lower(), names[c])
    iso2 = iso2_codes()
    iso2to3 = dict(zip(rng.sample(iso2, 600),
                       rng.sample(sorted(set(codes) - aggregates), 600)))
    exp = {}

    os.makedirs(os.path.join(out, "lookups"), exist_ok=True)
    with open(os.path.join(out, "lookups", "names.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["alias", "canonical_name"])
        w.writerows(sorted(lookup.items()))
    with open(os.path.join(out, "lookups", "iso2to3.csv"), "w",
              newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["iso2", "iso3"])
        w.writerows(sorted(iso2to3.items()))
    meta = [{"id": c, "iso2Code": c[:2], "name": names[c],
             "region": ({"id": "NA", "value": "Aggregates"} if c in aggregates
                        else {"id": "ECS", "value": "Europe & Central Asia"})}
            for c in codes]
    _write_pages(os.path.join(out, "meta"), meta, rng)
    exp["rows.meta"] = len(meta)
    exp["rows.names"] = len(lookup)
    exp["rows.iso"] = len(iso2to3)

    truths = {}
    dim_all = {}
    for d in (1, 2):
        t = _Truth()
        exp[f"rows.d{d}.pop"] = _population(rng, d, codes, aggregates, names,
                                            lookup, out, t)
        # Crime rows for Europe only name countries the dimension will hold,
        # so every loaded fact references a known country.
        dim_all.update({k: v for k, v in t.dim.items() if k not in dim_all})
        known = sorted(dim_all)
        europe = rng.sample(known, int(len(known) * 0.2))
        others = rng.sample(codes, len(codes) // 30)
        exp[f"rows.d{d}.crime"] = _crime(rng, d, europe, others, names, out, t)
        exp[f"rows.d{d}.immigration"] = _immigration(rng, d, iso2, iso2to3, t,
                                                     out)
        if d == 1:  # the harness pins and counts the first delivery's steps
            exp["xf.d1.dim_country"] = len(t.dim)
            exp["xf.d1.fact_population"] = len(t.pop)
            exp["xf.d1.fact_crime"] = len(t.crime)
            exp["xf.d1.fact_immigration"] = len(t.imm)
        truths[d] = t

    # Loads keep the first row per key: within a delivery the smallest value
    # (the load's order), across deliveries the row already loaded.
    def first_wins(rows):
        best = {}
        for value, code, year in rows:
            if (code, year) not in best or value < best[(code, year)]:
                best[(code, year)] = value
        return best

    dim, pop, crime, imm = {}, {}, {}, {}
    for d in (1, 2):
        t = truths[d]
        for k, v in t.dim.items():
            dim.setdefault(k, v)
        for k, v in t.pop.items():
            pop.setdefault(k, v)
        for k, v in first_wins(t.crime).items():
            crime.setdefault(k, v)
        for k, v in t.imm.items():
            imm.setdefault(k, v)

    keys = sorted(crime)
    changed = rng.sample(keys, len(keys) // 50)
    deleted = rng.sample(sorted(set(keys) - set(changed)), len(keys) // 100)
    fresh = []
    while len(fresh) < len(keys) // 200:
        k = (rng.choice(sorted(dim)), rng.randint(WINDOW[0], 2024))
        if k not in crime and k not in fresh:
            fresh.append(k)
    feed = []
    for k in changed + fresh:
        v = f"{rng.randint(0, 900)}.{rng.randint(0, 99):02d}"
        feed.append([v, k[0], k[1], "upsert"])
        crime[k] = float(v)
    for k in deleted:
        feed.append(["", k[0], k[1], "delete"])
        del crime[k]
    rng.shuffle(feed)
    os.makedirs(os.path.join(out, "cdc"), exist_ok=True)
    with open(os.path.join(out, "cdc", "crime.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["convicts_per_100000", "country_iso3_id", "year_id", "op"])
        w.writerows(feed)
    exp["rows.cdc"] = len(feed)

    truth_dir = os.path.join(out, "truth")
    _write_jsonl(os.path.join(truth_dir, "dim_country.jsonl"),
                 (f'{{"country_iso3_id":"{k}","country_name":{json.dumps(v)}}}'
                  for k, v in sorted(dim.items())))
    for table, col, rows in (("fact_population", "population", pop),
                             ("fact_crime", "convicts_per_100000", crime),
                             ("fact_immigration", "immigration_per_100000",
                              imm)):
        _write_jsonl(os.path.join(truth_dir, table + ".jsonl"),
                     (f'{{"{col}":{v!r},"country_iso3_id":"{k[0]}",'
                      f'"year_id":{k[1]}}}' for k, v in sorted(rows.items())))
    exp["table.dim_country"] = len(dim)
    exp["table.fact_population"] = len(pop)
    exp["table.fact_crime"] = len(crime)
    exp["table.fact_immigration"] = len(imm)
    for d in (1, 2):
        exp[f"raw.d{d}"] = (exp[f"rows.d{d}.pop"] + exp[f"rows.d{d}.crime"]
                            + exp[f"rows.d{d}.immigration"] + exp["rows.meta"]
                            + exp["rows.names"] + exp["rows.iso"])
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
    return exp


if __name__ == "__main__":
    import sys
    print(json.dumps(generate(int(sys.argv[1]), sys.argv[2]), indent=1))
