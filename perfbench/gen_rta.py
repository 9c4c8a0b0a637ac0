"""Seeded dirty RTA registration CSV, one file per registration month.

Follows FIXTURES.md section 5 and the raw schema of section 1:
duplicate registrations, every date shape the stage job parses
(dd/MM/yyyy, dd/MM/yy, yyyy/MM/dd with '/', '.' or '-' and stray
characters), misaligned rows whose `fromdate` holds an office name,
junk TS/TG office codes, 2-digit and missing make years, model
descriptions with trailer, electric, year and emission marks, and no
`emissionStandard` column, so the gold job derives it.

`generate` also returns the expected counts. The stage job keeps, per
registration, the row with the greatest raw `fromdate` string (then
`todate`, then the smallest `slno`) and drops it when that date does not
parse; `expected_valid` mirrors that rule, so it is the number of stage
rows and of fact rows.
"""
import csv
import os
import random

COLUMNS = ["slno", "tempRegistrationNumber", "fromdate", "todate", "OfficeCd",
           "makerName", "modelDesc", "fuel", "makeYear", "colour",
           "vehicleClass", "seatCapacity"]
OFFICES = ["RTA HYDERABAD", "UNIT OFFICE KARIMNAGAR", "MVI NIZAMABAD",
           "DTO WARANGAL", "ZONAL OFFICE SECUNDERABAD", "TRANSPORT BHAVAN"]
OFFICE_CODES = [f"RTA{c}" for c in ("HYD", "KNR", "NZB", "WGL", "SEC", "KMM", "MBN", "NLG")]
MAKERS = ["MARUTI SUZUKI", "HYUNDAI MOTOR", "TATA MOTORS", "MAHINDRA", "HONDA",
          "BAJAJ AUTO", "HERO MOTOCORP", "TVS MOTOR", "ASHOK LEYLAND", "EICHER"]
MODELS = ["SWIFT", "CRETA", "NEXON", "XUV500", "ACTIVA", "PULSAR", "SPLENDOR",
          "APACHE", "DOST", "PRO", "BALENO", "VENUE", "HARRIER", "THAR"]
VARIANTS = ["VXI", "SX (O)", "XZ+", "W8 AT", "DLX", "150 NEON", "PLUS i3S",
            "RTR 160", "STRONG", "2049", "ZETA", "S MT", ""]
SPECIAL = ["TRAILER", "TIPPER BODY", "TRACTOR 575", "WATER TANKER"]
MARKS = ["", "", "", " BS IV", " BSVI", " BS-III", " EV", " ELECTRIC", " HYBRID", " BOV"]
FUELS = ["PETROL", "DIESEL", "PETROL/GASOLINE", "BATTERY OPERATED", "ELECTRIC(BOV)",
         "CNG", "LPG", "PETROL/CNG", "METHANOL", ""]
COLOURS = ["WHITE", "BLACK", "SILVER", "RED", "BLUE", "GREY", ""]
CLASSES = ["MOTOR CAR", "MOTOR CYCLE", "GOODS CARRIER", "TRACTOR", "AUTO RICKSHAW", ""]
JUNK = ["", "", "", "", " ", "#", "~", "dt:", "'"]


def _date(rng, y, m, d, shape, sep):
    if shape == "dmy4":
        s = f"{d:02d}{sep}{m:02d}{sep}{y:04d}"
    elif shape == "dmy2":
        s = f"{d:02d}{sep}{m:02d}{sep}{y % 100:02d}"
    else:
        s = f"{y:04d}{sep}{m:02d}{sep}{d:02d}"
    return rng.choice(JUNK) + s + rng.choice(["", "", "", " ", "z"])


def _row(rng, reg, slno, month):
    """One raw row; returns (fields, fromdate_parses)."""
    y, m = month
    d = rng.randint(1, 28)
    shape = rng.choice(["dmy4", "dmy4", "dmy2", "ymd"])
    sep = rng.choice("/.-")
    r = rng.random()
    office = rng.choice(OFFICE_CODES)
    if r < 0.04:                      # misaligned: office name in fromdate
        fromdate, office, valid = rng.choice(OFFICES), "", False
    elif r < 0.06:                    # missing or unparseable date
        fromdate, valid = rng.choice(["", "N/A", "12/2021", "--"]), False
    else:
        fromdate, valid = _date(rng, y, m, d, shape, sep), True
    if rng.random() < 0.03:
        office = rng.choice(["TS", "TG", " TS "])
    elif office and rng.random() < 0.1:
        office = f" {office} "
    todate = _date(rng, y + rng.choice([15, 20]), m, d, shape, sep) if rng.random() > 0.05 else ""
    maker = rng.choice(MAKERS)
    maker = rng.choice([maker, maker + ".", maker + ",", maker.title(), f" {maker}"])
    if rng.random() < 0.05:
        desc = rng.choice(SPECIAL)
    else:
        desc = f"{rng.choice(MODELS)} {rng.choice(VARIANTS)}".strip()
    desc += rng.choice(MARKS)
    if rng.random() < 0.1:
        desc += f" {rng.randint(2012, 2023)}"
    if rng.random() < 0.05:
        desc = desc.replace(" ", rng.choice([" * ", " @", " !"]), 1)
    yr = rng.randint(2012, 2023)
    make_year = rng.choice([str(yr), str(yr), str(yr), f"{yr % 100:02d}", "", "UNKNOWN"])
    seats = rng.choice([str(rng.randint(1, 8)), str(rng.randint(1, 8)), "NA", ""])
    fields = [str(slno), reg, fromdate, todate, office, maker, desc,
              rng.choice(FUELS), make_year, rng.choice(COLOURS),
              rng.choice(CLASSES), seats]
    return fields, valid


def generate(out, seed, registrations, months=24):
    """Write raw/rta_YYYY_MM.csv files under `out`; return expected counts."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    month_list = [(2020 + i // 12, i % 12 + 1) for i in range(months)]
    files = {}
    slno = 0
    n_rows = n_valid = 0
    for i in range(registrations):
        reg = f"TG{seed % 97:02d}T{i:08d}"
        copies = 1 + (rng.random() < 0.15) + (rng.random() < 0.05)
        month = rng.choice(month_list)
        rows = []
        for _ in range(copies):
            slno += 1
            fields, valid = _row(rng, reg, slno, rng.choice([month, month, rng.choice(month_list)]))
            rows.append((fields, valid))
        files.setdefault(month, []).extend(f for f, _ in rows)
        n_rows += len(rows)
        # newest-wins: fromdate desc, todate desc (nulls last), slno asc
        cand = [(f[2] or None, f[3] or None, f[0], v) for f, v in rows]
        nonnull = [c for c in cand if c[0] is not None]
        pool = nonnull or cand
        if nonnull:
            top = max(c[0] for c in pool)
            pool = [c for c in pool if c[0] == top]
        with_to = [c for c in pool if c[1] is not None]
        if with_to:
            top = max(c[1] for c in with_to)
            pool = [c for c in with_to if c[1] == top]
        n_valid += min(pool, key=lambda c: c[2])[3]
    for (y, m), rows in sorted(files.items()):
        with open(os.path.join(out, f"rta_{y:04d}_{m:02d}.csv"), "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(COLUMNS)
            w.writerows(rows)
    return {"raw_rows": n_rows, "registrations": registrations,
            "expected_valid": n_valid, "files": len(files)}
