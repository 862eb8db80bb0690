"""Seeded tower lake: TOA5 logger files in the month-partitioned layout
``{root}/{site}/{table}/{yyyy}/{mm}/*.dat`` that ``config.month_globs``
addresses, written with the package's full production layouts
(``schemas.full_columns``), plus the ledger of every planted anomaly.

Planted per (site, table):

- overlapping re-downloads: a second file for some days, same ticks,
  RECORD + 500000 and extra ``NAN`` fields (keep-richest must keep the
  original, lower RECORD);
- partial days: a day file that stops at noon (gap fill re-inserts the
  missing ticks);
- spikes: air temperature jumps by +20 degC over a present, non-NAN
  previous tick (Met QC must null ``Tair_Filtered``);
- ``NAN`` air temperature ticks;
- one junk (non-TOA5) file.

No malformed numeric fields are planted: how the scan should treat them
is still an open design decision.

Every data row is also kept as metadata (site, table, timestamp, RECORD,
file), so the expected output of any date window is computed exactly by
:meth:`Lake.expect` instead of being hard-coded.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.schemas import (
    full_columns,
)

# of the production sites (CookEast, CookWest, BoydNorth, BoydSouth),
# the one on the second logger generation
V2_SITES = ("BoydSouth",)
FREQ = {"Flux": 30, "Met": 15}
REDOWNLOAD_OFFSET = 500_000
SPIKE_DEGC = 20.0


def layout(site: str, table: str) -> list[tuple[str, str]]:
    """The site's logger layout: V2 names carry no generation suffix."""
    return full_columns(f"{table}Raw" if site in V2_SITES else f"{table}Raw_V40826")


def tair_column(site: str, table: str) -> str:
    return "TA_1_1_1" if site in V2_SITES and table == "Flux" else "amb_tmpr_Avg"


def _value_fn(name: str, kind: str, rng: random.Random):
    """Per-column generator: realistic ranges for the QC inputs so most
    ticks pass, plain noise elsewhere."""
    low = name.lower()
    if kind == "str":
        return lambda: '"txt"'
    if kind == "i8":
        if "qc" in low or "grade" in low:
            return lambda: str(rng.randint(1, 6))
        if "samples" in low:
            return lambda: str(rng.randint(15000, 18000))
        return lambda: str(rng.randint(0, 50))
    table = {
        "rh": (40.0, 85.0),
        "par": (0.0, 1800.0),
        "press": (93.0, 95.0),
        "pa": (93.0, 95.0),
        "wnd_spd": (0.5, 9.0),
        "ws_": (0.5, 9.0),
        "wnd_dir": (1.0, 359.0),
        "wd": (1.0, 359.0),
        "ppfd": (0.0, 1800.0),
        "rn": (-80.0, 700.0),
        "netrad": (-80.0, 700.0),
        "vpd": (0.1, 4.0),
        "sig_strgth": (0.8, 1.0),
        "door": (0.0, 0.0),
    }
    if low in ("precipitation_tot", "precipitation", "p"):
        return lambda: "0"
    if low in ("e", "e_avg", "e_sat", "e_sat_avg"):
        return lambda: f"{rng.uniform(0.5, 3.0):.3f}"
    for key, (lo, hi) in table.items():
        if key in low:
            return lambda lo=lo, hi=hi: f"{rng.uniform(lo, hi):.3f}"
    return lambda: f"{rng.uniform(-50.0, 150.0):.3f}"


@dataclass
class Row:
    ts: dt.datetime
    record: int
    file: str
    tair_nan: bool = False


@dataclass
class Series:
    """All data rows of one (site, table), with the planted anomalies."""

    site: str
    table: str
    rows: list[Row] = field(default_factory=list)
    spikes: list[dt.datetime] = field(default_factory=list)
    files: list[str] = field(default_factory=list)
    junk: list[str] = field(default_factory=list)
    partial_days: list[str] = field(default_factory=list)
    redownload_days: list[str] = field(default_factory=list)


@dataclass
class Expected:
    """Exact expected output of one (site, table) job over a window."""

    spine_ticks: int
    duplicate_ticks: int  # ticks carried by more than one data row
    survivors: dict[dt.datetime, int]  # duplicate tick -> kept RECORD
    spikes: list[dt.datetime]
    nan_ticks: int  # kept rows whose air temperature is NAN


class Lake:
    def __init__(self, root: str, series: dict[tuple[str, str], Series]):
        self.root = root
        self.series = series

    def base(self, site: str, table: str) -> str:
        return os.path.join(self.root, site, table)

    def expect(
        self, site: str, table: str, start: dt.date, end: dt.date
    ) -> Expected:
        """What ``run_tower_job`` must output for rows dated in
        [start, end]: keep-richest keeps the lowest RECORD per tick and
        gap fill pads the kept ticks to whole days."""
        s = self.series[(site, table)]
        rows = [r for r in s.rows if start <= r.ts.date() <= end]
        by_ts: dict[dt.datetime, list[Row]] = {}
        for r in rows:
            by_ts.setdefault(r.ts, []).append(r)
        lo = min(by_ts)
        hi = max(by_ts)
        lo = dt.datetime(lo.year, lo.month, lo.day)
        hi_floor = dt.datetime(hi.year, hi.month, hi.day)
        if hi != hi_floor:
            hi = hi_floor + dt.timedelta(days=1)
        step = dt.timedelta(minutes=FREQ[table])
        kept = {t: min(rs, key=lambda r: r.record) for t, rs in by_ts.items()}
        dups = {t: kept[t].record for t, rs in by_ts.items() if len(rs) > 1}
        return Expected(
            spine_ticks=(hi - lo) // step + 1,
            duplicate_ticks=len(dups),
            survivors=dups,
            spikes=[t for t in s.spikes if start <= t.date() <= end],
            nan_ticks=sum(r.tair_nan for r in kept.values()),
        )

    def manifest(self, start: dt.date, end: dt.date) -> dict:
        """Every planted anomaly, and the expected output of a backfill
        over [start, end]."""
        out = {}
        for (site, table), s in self.series.items():
            e = self.expect(site, table, start, end)
            out[f"{site}/{table}"] = {
                "files": len(s.files),
                "junk_files": s.junk,
                "partial_days": s.partial_days,
                "redownload_days": s.redownload_days,
                "spikes": [t.isoformat() for t in s.spikes],
                "nan_ticks": [r.ts.isoformat() for r in s.rows if r.tair_nan],
                "data_rows": len(s.rows),
                "expected": {
                    "window": [start.isoformat(), end.isoformat()],
                    "spine_ticks": e.spine_ticks,
                    "duplicate_ticks": e.duplicate_ticks,
                    "survivor_records": {t.isoformat(): r for t, r in e.survivors.items()},
                    "kept_nan_ticks": e.nan_ticks,
                },
            }
        return out


def _write_toa5(path: str, site: str, table: str, cols, body: list[str]) -> None:
    names = [n for n, _ in cols]
    header = [
        f'"TOA5","{site}","CR6","1","CR6.Std","CPU:{table.lower()}","1","{table}"',
        ",".join(f'"{n}"' for n in names),
        ",".join('"TS"' if n == "TIMESTAMP" else '""' for n in names),
        ",".join('""' if n == "TIMESTAMP" else '"Avg"' for n in names),
    ]
    with open(path, "w") as f:
        f.write("\n".join(header + body) + "\n")


def _day_dir(base: str, day: dt.date) -> str:
    d = os.path.join(base, f"{day.year:04d}", f"{day.month:02d}")
    os.makedirs(d, exist_ok=True)
    return d


def _gen_series(
    root: str, site: str, table: str, days: list[dt.date], rng: random.Random
) -> Series:
    cols = layout(site, table)
    names = [n for n, _ in cols]
    tair = tair_column(site, table)
    t_idx = names.index(tair)
    gens = [_value_fn(n, k, rng) for n, k in cols]
    per_day = 24 * 60 // FREQ[table]
    step = dt.timedelta(minutes=FREQ[table])
    base = os.path.join(root, site, table)
    s = Series(site, table)

    # anomaly days by position, so every seed plants the same number in
    # any window: a re-download every sixth day from the third, a
    # partial day every sixth day from the fourth, never on the first or
    # last day (every window's ends stay whole)
    record = rng.randint(1000, 5000)
    for i, day in enumerate(days):
        inner = 0 < i < len(days) - 1
        redownload = inner and i % 6 == 2
        partial = inner and i % 6 == 3
        ticks = per_day // 2 if partial else per_day
        # one spike per whole day, over a present, non-NAN previous tick
        spike_at = None if partial else rng.randint(2, ticks - 2)
        nan_at = {rng.randint(1, ticks - 1) for _ in range(2)} - (
            {spike_at, spike_at - 1} if spike_at is not None else set()
        )
        d = _day_dir(base, day)
        fname = os.path.join(d, f"{site}_{table}_{day:%Y_%m_%d}_0000.dat")
        body = []
        t0 = dt.datetime(day.year, day.month, day.day)
        temp = rng.uniform(5.0, 20.0)
        day_rows = []
        for k in range(ticks):
            ts = t0 + step * (k + 1)
            temp += rng.uniform(-0.6, 0.6)
            vals = [g() for g in gens]
            vals[0] = f'"{ts:%Y-%m-%d %H:%M:%S}"'
            vals[1] = str(record)
            value = temp + (SPIKE_DEGC if k == spike_at else 0.0)
            vals[t_idx] = "NAN" if k in nan_at else f"{value:.3f}"
            if k == spike_at:
                s.spikes.append(ts)
            body.append(",".join(vals))
            day_rows.append(Row(ts, record, fname, k in nan_at))
            record += 1
        _write_toa5(fname, site, table, cols, body)
        s.files.append(fname)
        s.rows.extend(day_rows)
        if partial:
            s.partial_days.append(day.isoformat())
        if redownload:
            # re-download of the same ticks: higher RECORDs, extra NANs
            rfile = os.path.join(d, f"{site}_{table}_{day:%Y_%m_%d}_0001.dat")
            rbody = []
            for line, r in zip(body, day_rows):
                vals = line.split(",")
                for j in rng.sample(range(2, len(vals)), 3):
                    if cols[j][1] != "str":
                        vals[j] = "NAN"
                vals[1] = str(r.record + REDOWNLOAD_OFFSET)
                rbody.append(",".join(vals))
                s.rows.append(Row(r.ts, r.record + REDOWNLOAD_OFFSET, rfile))
            _write_toa5(rfile, site, table, cols, rbody)
            s.files.append(rfile)
            s.redownload_days.append(day.isoformat())
    junk = os.path.join(_day_dir(base, days[len(days) // 2]), f"{site}_{table}_junk.dat")
    with open(junk, "w") as f:
        f.write("this is not a TOA5 file\x00\x01 at all,,,\nnor,is,this\n")
    s.files.append(junk)
    s.junk.append(junk)
    return s


def generate(
    root: str, seed: int, start: dt.date, n_days: int, sites: tuple[str, ...],
    tables: tuple[str, ...],
) -> Lake:
    """Write the lake for ``n_days`` days from ``start`` (one water year)
    and return its ledger; the same seed writes the same bytes."""
    days = [start + dt.timedelta(days=i) for i in range(n_days)]
    series = {}
    for site in sites:
        for table in tables:
            rng = random.Random(f"{seed}/{site}/{table}")
            series[(site, table)] = _gen_series(root, site, table, days, rng)
    lake = Lake(root, series)
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(lake.manifest(days[0], days[-1]), f, indent=1)
    return lake
