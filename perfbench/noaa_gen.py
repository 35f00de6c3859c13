"""Seeded raw-input generator for the ``noaa_etl`` workload, and a
pure-Python reference of the rollups the two pipelines write.

GHCN-Daily ``.dly``: one file per station, one 269-char line per
(station, year, month, element), 31 eight-char day groups
(VALUE 5, MFLAG, QFLAG, SFLAG). About 5% of real day slots are missing
(-9999) and about 2% carry a non-blank QFLAG. Every day slot past the
month's end holds -9999, as in real files: a slot such as Feb 30 with a
value would make ``make_date`` fail under ANSI mode.

ISD-Lite: one file per station-year named ``USAF-WBAN-YYYY``, one
61-char line per hour, eight right-aligned 6-char fields after the
date, -9999 for a missing field (about 5% per field).

The same seed gives byte-identical files. The reference reads the files
back, so it checks the pipelines against the bytes they actually read.
"""

from __future__ import annotations

import calendar
import math
import os
import random
from dataclasses import dataclass

MISSING = -9999
GHCN_ELEMENTS = ("TMAX", "TMIN", "PRCP", "SNWD")
TENTHS_ELEMENTS = frozenset(("TMAX", "TMIN", "TAVG", "PRCP"))
QFLAGS = "DGIKLMNORSTWXZ"
MISSING_SHARE = 0.05
QFLAG_SHARE = 0.02
# Fixed year ranges keep the partition layout, and so the output file
# count, the same for every seed; the seed drives stations and values.
GHCN_FIRST_YEAR = 2004
ISD_FIRST_YEAR = 2015


@dataclass(frozen=True)
class InputSize:
    ghcn_stations: int
    ghcn_years: int
    isd_stations: int
    isd_years: int


def _ghcn_value(rng: random.Random, element: str, month: int) -> int:
    season = math.cos((month - 7) / 6 * math.pi)
    if element == "TMAX":
        return int(round(150 + 120 * season + rng.gauss(0, 40)))
    if element == "TMIN":
        return int(round(30 + 110 * season + rng.gauss(0, 40)))
    if element == "PRCP":
        return 0 if rng.random() < 0.6 else int(rng.expovariate(1 / 60))
    return max(0, int(rng.gauss(40, 30)))  # SNWD, whole mm


def dly_lines(station: str, first_year: int, years: int, rng: random.Random) -> list[str]:
    lines = []
    for year in range(first_year, first_year + years):
        for month in range(1, 13):
            month_days = calendar.monthrange(year, month)[1]
            for element in GHCN_ELEMENTS:
                slots = []
                for day in range(1, 32):
                    if day > month_days or rng.random() < MISSING_SHARE:
                        slots.append(f"{MISSING:5d}   ")
                        continue
                    qflag = rng.choice(QFLAGS) if rng.random() < QFLAG_SHARE else " "
                    slots.append(f"{_ghcn_value(rng, element, month):5d} {qflag}7")
                lines.append(f"{station:<11}{year:04d}{month:02d}{element:<4}" + "".join(slots))
    return lines


def isd_lines(year: int, rng: random.Random) -> list[str]:
    lines = []
    start_doy = rng.random() * 2 * math.pi
    for doy in range(366 if calendar.isleap(year) else 365):
        month, day = _month_day(year, doy)
        season = math.cos(2 * math.pi * doy / 365 + start_doy)
        for hour in range(24):
            diurnal = math.sin((hour - 9) / 12 * math.pi)
            fields = [
                int(round(100 + 120 * season + 40 * diurnal + rng.gauss(0, 15))),  # air temp
                int(round(20 + 90 * season + rng.gauss(0, 15))),  # dew point
                int(round(10132 + rng.gauss(0, 80))),  # sea-level pressure
                rng.randrange(0, 360, 10),  # wind direction
                max(0, int(rng.gauss(40, 20))),  # wind speed
                rng.randrange(0, 9),  # sky condition
                0 if rng.random() < 0.85 else int(rng.expovariate(1 / 15)),  # precip 1h
                0 if rng.random() < 0.85 else int(rng.expovariate(1 / 40)),  # precip 6h
            ]
            text = "".join(
                f"{MISSING if rng.random() < MISSING_SHARE else v:6d}" for v in fields
            )
            lines.append(f"{year:04d} {month:02d} {day:02d} {hour:02d}{text}")
    return lines


def _month_day(year: int, doy: int) -> tuple[int, int]:
    for month in range(1, 13):
        n = calendar.monthrange(year, month)[1]
        if doy < n:
            return month, doy + 1
        doy -= n
    raise ValueError(doy)


def generate(root: str, seed: int, size: InputSize) -> dict[str, int]:
    """Write ``root/ghcn/*.dly`` and ``root/isd/USAF-WBAN-YYYY`` from
    ``seed``; return the raw byte count per source."""
    ghcn_dir, isd_dir = os.path.join(root, "ghcn"), os.path.join(root, "isd")
    os.makedirs(ghcn_dir, exist_ok=True)
    os.makedirs(isd_dir, exist_ok=True)
    rng = random.Random(seed)
    written = {"ghcn": 0, "isd": 0}
    for i in range(size.ghcn_stations):
        station = f"USC{rng.randrange(100):02d}{i:06d}"
        body = "\n".join(dly_lines(station, GHCN_FIRST_YEAR, size.ghcn_years, rng)) + "\n"
        with open(os.path.join(ghcn_dir, f"{station}.dly"), "w") as fh:
            fh.write(body)
        written["ghcn"] += len(body)
    for i in range(size.isd_stations):
        usaf = f"{720000 + i * 37 + rng.randrange(37):06d}"
        for year in range(ISD_FIRST_YEAR, ISD_FIRST_YEAR + size.isd_years):
            body = "\n".join(isd_lines(year, rng)) + "\n"
            with open(os.path.join(isd_dir, f"{usaf}-99999-{year}"), "w") as fh:
                fh.write(body)
            written["isd"] += len(body)
    return written


def _field(line: str, start: int, length: int) -> int:
    return int(line[start - 1 : start - 1 + length])


def ghcn_reference(ghcn_dir: str) -> dict[str, object]:
    """Monthly climate rollup and observation count as
    ``pipelines.ghcn.run_pipeline`` must write them."""
    monthly: dict[tuple, tuple] = {}
    observations = 0
    for name in sorted(os.listdir(ghcn_dir)):
        with open(os.path.join(ghcn_dir, name)) as fh:
            for line in fh.read().splitlines():
                station, year, month, element = (
                    line[0:11].strip(), int(line[11:15]), int(line[15:17]), line[17:21].strip()
                )
                values = []
                for d in range(31):
                    raw = _field(line, 22 + 8 * d, 5)
                    if raw == MISSING or line[27 + 8 * d].strip():
                        continue
                    values.append(raw / 10.0 if element in TENTHS_ELEMENTS else float(raw))
                if values:
                    observations += len(values)
                    monthly[(station, year, month, element)] = (
                        len(values), round(sum(values) / len(values), 6), min(values), max(values)
                    )
    return {"observations": observations, "monthly": monthly}


def isd_reference(isd_dir: str) -> dict[str, object]:
    """Daily summary and hourly row count as
    ``pipelines.isd.run_pipeline`` must write them."""
    days: dict[tuple, list] = {}
    hourly = 0
    for name in sorted(os.listdir(isd_dir)):
        station = name[:12]
        with open(os.path.join(isd_dir, name)) as fh:
            for line in fh.read().splitlines():
                hourly += 1
                key = (station, int(line[0:4]), int(line[5:7]), int(line[8:10]))
                acc = days.setdefault(key, [0, [], []])
                acc[0] += 1
                temp, precip = _field(line, 14, 6), _field(line, 50, 6)
                if temp != MISSING:
                    acc[1].append(temp / 10.0)
                if precip != MISSING:
                    acc[2].append(precip / 10.0)
    daily = {}
    for key, (n, temps, precips) in days.items():
        daily[key] = (
            n,
            min(temps) if temps else None,
            round(sum(temps) / len(temps), 6) if temps else None,
            max(temps) if temps else None,
            round(sum(precips), 6) if precips else None,
        )
    return {"hourly": hourly, "daily": daily}
