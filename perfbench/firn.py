"""Seeded multi-station TOA5 archive and the golden invariants of its
Level-1/Level-2 products.

Layout (one ``data_root`` for all stations, as the CLI expects):

  firn_stations/ppconfig/<site>.toml         site metadata
  fielddata_<site>/MainTable<n>.dat          overlapping TOA5 bales
  fielddata_<site>/<SITE>_DTC1_DiagSettings.dat   DTC sensor positions
  EC_1.65m.csv                               EC chain positions
  ec_calibration/calibration_coefficients_<SITE>_c0.csv

Each station logs at the reference 15-minute cadence (~35k scans per
station-year). The archive plants what Level-1 and Level-2 must clean:

* bales overlap by up to a day, so overlapped scans repeat exactly;
* one logger clock reset per station re-logs a run of timestamps with
  higher RECORD numbers and different values (keep-first must win);
* ``NAN`` cells, a multi-hour all-``NAN`` gap, out-of-range values in
  every range-checked family, and Q-flag outliers with bogus UDG values;
* one UDG mount height change per station.
"""
import csv
import datetime as dt
import os

import numpy as np
import pandas as pd

CADENCE_MIN = 15
N_CHAIN = 12
VALID = {"T107_C": (-50.0, 10.0), "TDR_T": (-50.0, 10.0),
         "TDR_VWC": (0.0, 1.0), "TDR_Perm": (1.0, 81.0),
         "TDR_EC": (0.0, 8.0), "EC": (0.5, 1.0)}
TDR_VARS = ["VWC", "EC", "T", "Perm", "Period", "VR"]
COLUMNS = (["TIMESTAMP", "RECORD", "BattV_Min", "PTemp_C_Min", "T107_C",
            "TCDT", "Q", "DT"]
           + [f"TDR{i}_{v}" for i in (1, 2, 3) for v in TDR_VARS]
           + [f"DTC1({i})" for i in range(1, N_CHAIN + 1)]
           + [f"EC({i})" for i in range(1, N_CHAIN + 1)])
PREAMBLE = '"TOA5","{site}","CR800","44870","CR800.Std.32.03",' \
           '"CPU:firn_station.CR8","20701","MainTable"'


def _q(s):
    return '"' + s + '"'


def _station_series(rng, n, t0):
    """Clean physical signals for ``n`` scans starting at ``t0``."""
    day = np.arange(n) * CADENCE_MIN / 1440.0
    season = np.sin(2 * np.pi * (day - 200) / 365.0)
    diurnal = np.sin(2 * np.pi * day)
    s = {}
    s["BattV_Min"] = 12.6 + 0.3 * diurnal + rng.normal(0, 0.05, n)
    t_air = -22 + 14 * season + 4 * diurnal + rng.normal(0, 0.8, n)
    s["T107_C"] = np.minimum(t_air, 9.5)
    s["PTemp_C_Min"] = s["T107_C"] - 1.0
    # surface distance shrinks with accumulation; noise of a sonic ranger
    s["TCDT"] = 2.1 - 0.6 * day / 365.0 + rng.normal(0, 0.004, n)
    s["Q"] = rng.integers(160, 200, n).astype(float)
    s["DT"] = s["TCDT"] + 0.01
    for i in (1, 2, 3):
        depth = 0.3 * i
        s[f"TDR{i}_VWC"] = np.clip(0.05 + 0.02 * i + rng.normal(0, 0.005, n),
                                   0.001, 0.99)
        s[f"TDR{i}_EC"] = np.clip(0.2 + rng.normal(0, 0.02, n), 0.01, 7.9)
        s[f"TDR{i}_T"] = np.minimum(-18 + 6 * season / (1 + depth)
                                    + rng.normal(0, 0.1, n), 9.0)
        s[f"TDR{i}_Perm"] = np.clip(3.2 + rng.normal(0, 0.1, n), 1.1, 80.0)
        s[f"TDR{i}_Period"] = 18 + rng.normal(0, 0.3, n)
        s[f"TDR{i}_VR"] = 0.8 + rng.normal(0, 0.01, n)
    for i in range(1, N_CHAIN + 1):
        s[f"DTC1({i})"] = -20 + 8 * season * np.exp(-0.15 * i) \
            + rng.normal(0, 0.05, n)
        s[f"EC({i})"] = np.clip(0.75 + 0.1 * np.sin(day / 30 + i)
                                + rng.normal(0, 0.01, n), 0.51, 0.99)
    return s


def _plant_faults(rng, s, n, change_at):
    """Out-of-range cells, Q outliers, NAN cells and gaps, mount change."""
    def pick(frac):
        return rng.random(n) < frac
    s["T107_C"][pick(0.003)] = 25.0
    s["T107_C"][pick(0.002)] = -80.0
    for i in (1, 2, 3):
        s[f"TDR{i}_VWC"][pick(0.002)] = 1.7
        s[f"TDR{i}_EC"][pick(0.002)] = 9.5
        s[f"TDR{i}_T"][pick(0.002)] = 14.0
        s[f"TDR{i}_Perm"][pick(0.002)] = 95.0
    for i in range(1, N_CHAIN + 1):
        s[f"EC({i})"][pick(0.002)] = 1.4
        s[f"EC({i})"][pick(0.002)] = 0.2
    bad_q = pick(0.01)
    s["Q"][bad_q] = rng.integers(215, 260, int(bad_q.sum()))
    s["TCDT"][bad_q] += rng.uniform(0.5, 3.0, int(bad_q.sum()))
    low_q = pick(0.004)
    s["Q"][low_q] = rng.integers(100, 149, int(low_q.sum()))
    # the mount is raised by 1 m: every later distance reads 1 m longer
    s["TCDT"][change_at:] += 1.0
    s["DT"][change_at:] += 1.0
    for name in COLUMNS[2:]:
        s[name][pick(0.004)] = np.nan
    g0 = int(rng.integers(n // 10, n - n // 10))
    for name in COLUMNS[2:]:
        s[name][g0:g0 + int(rng.integers(8, 24))] = np.nan


def _write_toa5(path, site, header_cols, frames):
    with open(path, "w", newline="") as f:
        f.write(PREAMBLE.format(site=site) + "\n")
        f.write(",".join(_q(c) for c in header_cols) + "\n")
        f.write(",".join(_q(u) for u in ["TS", "RN"]
                         + [""] * (len(header_cols) - 2)) + "\n")
        f.write(",".join(_q(a) for a in ["", ""]
                         + ["Smp"] * (len(header_cols) - 2)) + "\n")
        for df in frames:
            df.to_csv(f, header=False, index=False, na_rep="NAN",
                      quoting=csv.QUOTE_NONNUMERIC, lineterminator="\n")


def make_station(rng, root, site, n, t0, n_bales):
    """Write one station's bales and side files; return its truth."""
    s = _station_series(rng, n, t0)
    change_at = int(rng.integers(n // 3, 2 * n // 3))
    _plant_faults(rng, s, n, change_at)
    ts = pd.date_range(t0, periods=n, freq=f"{CADENCE_MIN}min") \
        .strftime("%Y-%m-%d %H:%M:%S")
    data = pd.DataFrame({"TIMESTAMP": ts, "RECORD": np.arange(n)})
    for c in COLUMNS[2:]:
        data[c] = np.round(s[c], 4)
    # logger clock reset: scans [r0, r0+k) are logged a second time later
    # in the same bale with higher RECORD numbers and different values
    r0 = int(rng.integers(n // 4, 3 * n // 4))
    k = int(rng.integers(4, 16))
    relog = data.iloc[r0:r0 + k].copy()
    for c in COLUMNS[2:]:
        if c != "Q":
            relog[c] = np.round(relog[c] + 0.5, 4)
    sub = f"fielddata_{site}"
    os.makedirs(os.path.join(root, sub), exist_ok=True)
    bounds = np.linspace(0, n, n_bales + 1).astype(int)
    raw_rows = 0
    for b in range(n_bales):
        # bales overlap: an overlapped scan repeats with its original RECORD
        lo = max(0, bounds[b] - int(rng.integers(0, 96))) if b else 0
        hi = bounds[b + 1]
        if lo <= r0 and r0 + k <= hi:
            relog["RECORD"] = n + 100 * b + np.arange(k)
            frames = [data.iloc[lo:r0 + k], relog, data.iloc[r0 + k:hi]]
        else:
            frames = [data.iloc[lo:hi]]
        _write_toa5(os.path.join(root, sub, f"MainTable{b + 1}.dat"),
                    site, COLUMNS, frames)
        raw_rows += sum(len(f) for f in frames)
    # DTC chain positions (mm), one-row TOA5
    _write_toa5(os.path.join(root, sub, f"{site.upper()}_DTC1_DiagSettings.dat"),
                site, ["TIMESTAMP", "RECORD"]
                + [f"DTC1_SensorPositions({i})" for i in range(1, N_CHAIN + 1)],
                [pd.DataFrame([[ts[0], 0] + [150 * i for i in range(N_CHAIN)]])])
    # EC calibration: one sensor left out, so the mean fallback is used
    cal = {f"EC({i})": (float(rng.uniform(450, 650)), float(rng.uniform(-5, 5)))
           for i in range(1, N_CHAIN + 1) if i != 7}
    os.makedirs(os.path.join(root, "ec_calibration"), exist_ok=True)
    with open(os.path.join(root, "ec_calibration",
                           f"calibration_coefficients_{site.upper()}_c0.csv"),
              "w") as f:
        f.write("sensor,m,c,r2\n")
        for name, (m, c) in cal.items():
            f.write(f"{name},{m!r},{c!r},0.95\n")
    change_ts = (t0 + dt.timedelta(minutes=CADENCE_MIN * change_at))
    os.makedirs(os.path.join(root, "firn_stations", "ppconfig"), exist_ok=True)
    with open(os.path.join(root, "firn_stations", "ppconfig", f"{site}.toml"),
              "w") as f:
        f.write(f"""site = '{site}'
tz = 'UTC'
lat = 69.1
lon = -49.5
[level0_1]
udg_key = 'TCDT'
[level1_2]
remove_columns = ["RECORD", "PTemp_C_Min", "DT"]
udg_height_change = [[{change_ts.strftime('%Y-%m-%dT%H:%M:%S')}, 1.0]]
dtc_info.1 = [{t0.strftime('%Y-%m-%d')}, "{sub}/{site.upper()}_DTC1_DiagSettings.dat", 1, -0.17]
ec_info.1 = [{t0.strftime('%Y-%m-%d')}, "EC_1.65m.csv", 1, -0.16]
[level0.fielddata]
subpath = '{sub}'
bales_start = 1
bales_stop = {n_bales}
""")
    normed = data["TCDT"] - np.where(np.arange(n) >= change_at, 1.0, 0.0)
    bogus = (data["Q"] > 210) & normed.notna()
    return {"n_unique": n, "raw_rows": raw_rows,
            "relog": dict(zip(ts[r0:r0 + k], data["T107_C"].iloc[r0:r0 + k])),
            "bogus_udg": dict(zip(ts[bogus], normed[bogus])),
            "cal": cal}


def make_archive(root, seed, sites, scans, n_bales):
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "EC_1.65m.csv"), "w") as f:
        f.write("SensorPosition(m)\n" + "\n".join(
            str(150 * i) for i in range(N_CHAIN)) + "\n")
    truth = {}
    for k, site in enumerate(sites):
        t0 = dt.datetime(2019 + k % 3, 4, 30) + dt.timedelta(
            minutes=CADENCE_MIN * int(rng.integers(0, 96)))
        truth[site] = make_station(rng, root, site, scans, t0, n_bales)
    return truth


def _csv_file(path):
    """The CLI writes each CSV product as a one-part Spark directory."""
    if os.path.isdir(path):
        parts = sorted(p for p in os.listdir(path) if p.endswith(".csv"))
        if len(parts) != 1:
            raise ValueError(f"{path}: expected one CSV part, got {parts}")
        return os.path.join(path, parts[0])
    return path


def netcdf_dims(path):
    """Dimension name -> length from a NetCDF classic (CDF-1/2) header."""
    with open(path, "rb") as f:
        head = f.read(1 << 16)
    if head[:3] != b"CDF" or head[3] not in (1, 2):
        raise ValueError(f"{path}: not a NetCDF classic file")
    numrecs = int.from_bytes(head[4:8], "big")
    pos = 8
    tag = int.from_bytes(head[pos:pos + 4], "big")
    n = int.from_bytes(head[pos + 4:pos + 8], "big")
    pos += 8
    dims = {}
    if tag == 0x0A:
        for _ in range(n):
            ln = int.from_bytes(head[pos:pos + 4], "big")
            name = head[pos + 4:pos + 4 + ln].decode()
            pos += 4 + (ln + 3) // 4 * 4
            size = int.from_bytes(head[pos:pos + 4], "big")
            pos += 4
            dims[name] = numrecs if size == 0 else size
    return dims


def check_station(l1_path, l2_path, truth):
    """Golden invariants of one station's products; returns a list of
    violated-invariant messages (empty = correct)."""
    bad = []
    l1 = pd.read_csv(_csv_file(l1_path))
    if len(l1) != truth["n_unique"]:
        bad.append(f"L1 rows {len(l1)} != unique timestamps {truth['n_unique']}")
    if l1["TIMESTAMP"].duplicated().any():
        bad.append("L1 repeats a timestamp")
    l1_ts = pd.to_datetime(l1["TIMESTAMP"]).dt.strftime("%Y-%m-%d %H:%M:%S")
    first = dict(zip(l1_ts, l1["T107_C"]))
    for ts, want in truth["relog"].items():
        got = first.get(ts)
        if not (np.isnan(want) and (got is None or np.isnan(got))) and \
                (got is None or abs(got - want) > 1e-6):
            bad.append(f"L1 {ts}: kept T107_C {got}, first logged {want}")
            break
    l2 = pd.read_csv(_csv_file(l2_path))
    l2_ts = pd.to_datetime(l2["TIMESTAMP"]).dt.strftime("%Y-%m-%d %H:%M:%S")
    ranges = {"t_air(C)": VALID["T107_C"]}
    for i in (1, 2, 3):
        ranges[f"TDR{i}_T(C)"] = VALID["TDR_T"]
        ranges[f"TDR{i}_VWC(m3/m3)"] = VALID["TDR_VWC"]
        ranges[f"TDR{i}_Perm()"] = VALID["TDR_Perm"]
        ranges[f"TDR{i}_EC(dS/m)"] = VALID["TDR_EC"]
    cal = truth["cal"]
    m_mean = sum(m for m, _ in cal.values()) / len(cal)
    c_mean = sum(c for _, c in cal.values()) / len(cal)
    lo_mv, hi_mv = VALID["EC"]
    for i in range(1, N_CHAIN + 1):
        m, c = cal.get(f"EC({i})", (m_mean, c_mean))
        # calibrated value m*(1 - mV) + c of a clamped raw mV reading
        ranges[f"EC_{i}(microS)"] = (m * (1 - hi_mv) + c - 1e-6,
                                     m * (1 - lo_mv) + c + 1e-6)
    for name, (lo, hi) in ranges.items():
        if name not in l2.columns:
            bad.append(f"L2 lacks column {name}")
            continue
        v = l2[name].dropna()
        if ((v < lo) | (v > hi)).any():
            bad.append(f"L2 {name} outside [{lo}, {hi}]")
    # a Q>210 reading must not survive the UDG filter (its instant may
    # still hold a value forward-filled from an earlier valid reading)
    udg = dict(zip(l2_ts, l2["TCDT(m)"])) if "TCDT(m)" in l2.columns else {}
    if not udg:
        bad.append("L2 lacks TCDT(m)")
    for ts, raw in truth["bogus_udg"].items():
        got = udg.get(ts)
        if got is not None and abs(got - raw) < 1e-6:
            bad.append(f"L2 keeps the Q>210 UDG reading at {ts}")
            break
    dims = netcdf_dims(l2_path[:-len(".csv")] + ".nc")
    n_time = dims.get("TIMESTAMP", dims.get("time"))
    if n_time != len(l2):
        bad.append(f"NetCDF time dimension {n_time} != CSV rows {len(l2)}")
    return bad
