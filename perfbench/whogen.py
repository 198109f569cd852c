"""Seeded generator for the ``who_warehouse`` workload's input directories.

Writes two batches of heterogeneous epidemic files shaped like the
FIXTURES.md inputs, plus ``truth.json`` with the counts the correctness
gate checks. Every seed yields the same file names, row counts, date range
and number of unparseable dates; the seed only changes country names,
values and which rows carry the bad dates, so run-to-run timing
differences are not data-size differences.

Batch 1 (the initial load):

- ``covid_19_clean_complete.csv``: F-in-4 panel with ``Province/State``,
  ``Country/Region``, ``Lat``/``Long`` and cumulative series; a few rows
  carry unparseable dates, and the first days fall before the 2019-01-01
  cut-off.
- ``monkeypox_owid.json``: F-in-5 panel as one JSON array of records,
  keyed by ``location``, with cumulative, daily and per-million columns.
- ``covid_day_wise.csv``: F-in-2 global series with no country column,
  which the v4 directory run must ignore.

Batch 2 (the upsert) revises the latest ~10% of dates for every country
and adds new countries on those dates.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random

MIN_DATE = dt.date(2019, 1, 1)
BAD_DATES = ["n/a", "unknown", "not reported"]

_SYLLABLES = ["ka", "lo", "mar", "ti", "su", "ven", "dra", "po", "li", "zen",
              "ro", "ba", "qui", "tem", "na", "shi", "gor", "el", "fa", "um"]


def _country_names(rng: random.Random, n: int) -> list[str]:
    names: set[str] = set()
    while len(names) < n:
        parts = rng.sample(_SYLLABLES, rng.randint(2, 3))
        names.add("".join(parts).capitalize())
    return sorted(names)


def _write_csv(path: str, header: list[str], rows: list[list]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def _cumulative(rng: random.Random, n: int, scale: int) -> list[int]:
    total, out = 0, []
    for _ in range(n):
        total += rng.randint(0, scale)
        out.append(total)
    return out


class _Keys:
    """Distinct ``(disease, country, date)`` fact keys the load must keep."""

    def __init__(self) -> None:
        self.keys: set[tuple[str, str, str]] = set()

    def add(self, disease: str, country: str, day: str) -> None:
        try:
            d = dt.date.fromisoformat(day)
        except ValueError:
            return
        if d >= MIN_DATE:
            self.keys.add((disease, country, day))


def generate(out_dir: str, seed: int, *, countries: int, days: int) -> dict:
    """Write ``batch1/``, ``batch2/`` and ``truth.json`` under ``out_dir``.

    The ``days`` consecutive dates start two days before ``MIN_DATE``, so
    the directory run drops the first two. Returns the truth dict.
    """
    rng = random.Random(seed)
    names = _country_names(rng, countries + max(2, countries // 8))
    rng.shuffle(names)
    base, added = names[:countries], names[countries:]
    start = dt.date(2018, 12, 30)
    dates = [(start + dt.timedelta(days=i)).isoformat() for i in range(days)]
    revised = dates[-max(1, days // 10):]
    b1, b2 = os.path.join(out_dir, "batch1"), os.path.join(out_dir, "batch2")
    os.makedirs(b1, exist_ok=True)
    os.makedirs(b2, exist_ok=True)
    load, upsert = _Keys(), _Keys()

    # F-in-4 panel: synonym headers, cumulative series, 1% bad dates
    header = ["Province/State", "Country/Region", "Lat", "Long", "Date",
              "Confirmed", "Deaths", "Recovered", "Active", "WHO Region"]
    rows = []
    covid = base[: countries * 3 // 4]
    for c in covid:
        lat, lon = round(rng.uniform(-60, 70), 4), round(rng.uniform(-170, 170), 4)
        conf = _cumulative(rng, days, 400)
        deaths = [v // 50 for v in conf]
        rec = [v // 2 for v in conf]
        rows += [["", c, lat, lon, d, conf[i], deaths[i], rec[i],
                  conf[i] - deaths[i] - rec[i], "EURO"] for i, d in enumerate(dates)]
    bad = rng.sample(range(len(rows)), max(1, len(rows) // 100))
    for i in bad:
        rows[i][4] = rng.choice(BAD_DATES)
    for row in rows:
        load.add("COVID-19", row[1], row[4])
    panel_valid_rows = len(rows) - len(bad)
    _write_csv(os.path.join(b1, "covid_19_clean_complete.csv"), header, rows)

    # F-in-5 panel as one JSON array: location, cumulative + per-million
    records = []
    mpox = base[countries // 4:]
    for c in mpox:
        pop = rng.randint(1_000_000, 90_000_000)
        tot = _cumulative(rng, days, 30)
        for i, d in enumerate(dates):
            new = tot[i] - (tot[i - 1] if i else 0)
            records.append({
                "location": c, "iso_code": c[:3].upper(), "date": d,
                "total_cases": float(tot[i]), "total_deaths": float(tot[i] // 20),
                "new_cases": float(new), "new_deaths": float(new // 20),
                "new_cases_smoothed": round(new * 0.9, 3),
                "new_cases_per_million": round(new * 1e6 / pop, 6),
                "total_cases_per_million": round(tot[i] * 1e6 / pop, 6),
            })
            load.add("Monkeypox", c, d)
    with open(os.path.join(b1, "monkeypox_owid.json"), "w") as f:
        json.dump(records, f)

    # F-in-2: no country column -> ignored by the directory run
    conf = _cumulative(rng, days, 5000)
    _write_csv(os.path.join(b1, "covid_day_wise.csv"),
               ["Date", "Confirmed", "Deaths", "New cases", "No. of countries"],
               [[d, conf[i], conf[i] // 40, conf[i] - (conf[i - 1] if i else 0),
                 len(covid)] for i, d in enumerate(dates)])

    # batch 2: revise the latest dates, add new countries on them
    header = ["Country/Region", "Lat", "Long", "Date", "Confirmed", "Deaths",
              "Recovered", "Active"]
    rows = []
    for c in covid + added:
        cum = _cumulative(rng, len(revised), 600)
        for i, d in enumerate(revised):
            rows.append([c, 1.5, 2.5, d, 10_000 + cum[i], cum[i] // 40,
                         cum[i] // 3, 10_000 + cum[i] - cum[i] // 40 - cum[i] // 3])
            upsert.add("COVID-19", c, d)
    _write_csv(os.path.join(b2, "covid_19_update.csv"), header, rows)
    rows = []
    for c in mpox + added:
        for d in revised:
            rows.append([c, d, float(rng.randint(1, 40))])
            upsert.add("Monkeypox", c, d)
    _write_csv(os.path.join(b2, "monkeypox_update.csv"),
               ["location", "date", "new_cases"], rows)

    truth = {
        "seed": seed,
        "bilan_load": {"files_seen": 3, "processed": 2, "ignored": 1},
        "bilan_upsert": {"files_seen": 2, "processed": 2, "ignored": 0},
        "fact_keys_load": len(load.keys),
        "fact_keys_upsert": len(load.keys | upsert.keys),
        "long_rows": panel_valid_rows * 6,
        "pivot_rows": panel_valid_rows,
        "fact_rows_star": panel_valid_rows,
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


def input_bytes(directory: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, n))
        for root, _, files in os.walk(directory)
        for n in files
    )
