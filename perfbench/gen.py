"""Seeded input generator for the perfbench workloads.

Every input the engine sees is a file written here from `--seed`. The
same seed gives byte-identical files (test_bench.py checks this). Each
generator also returns the truth the output checks compare against:
which readings exist and their values (a pure function of the reading's
key).
"""
import functools
import hashlib
import math
import random
from datetime import datetime, timedelta, timezone
from pathlib import Path

PARAMS = ("pm25", "pm10", "no2", "so2", "o3", "co", "bc")
CITIES = ("Hanoi", "Ho Chi Minh City", "Da Nang", "Hai Phong", "Can Tho",
          "Hue", "Nha Trang", "Vinh", "Buon Ma Thuot", "Quy Nhon",
          "Thai Nguyen", "Nam Dinh")
LOCAL_OFFSET = timedelta(hours=7)  # readings land with a +07:00 offset
BAD_DATETIMES = ("not-a-date", "2024-13-01T00:00:00+07:00",
                 "2024-02-30T10:00:00+07:00", "")

# The traffic shape is the reference's, from BASELINE.md: about 50
# locations and about 150 sensors, so 3 parameters per location
# (doc/architecture.md:623-626), and about 1,500 measurements a day, so
# each sensor reports on 10 hours of a day (doc/architecture.md:627-628);
# the hourly extraction re-extracts the full last 24 h
# (handler.py:268-269, which AqStreaming cites). Only the volume is
# scaled, as stated per workload. README.md explains the numbers; the
# one-line reason for each workload is its `why` in BENCHMARK.json.
REF_LOCATIONS = 50
PARAMS_PER_LOCATION = 3
HOURS_PER_DAY = 10

WORKLOADS = {
    # one month of backfill, the reference's backfill unit, at 4x its
    # locations: 186,000 readings, 4-5x the documented 35-45k records/month
    "etl_backfill": dict(
        start="2024-01-01", days=31, locations=4 * REF_LOCATIONS,
        dup_share=0.10, bad_datetime_share=0.01, files=8),
    # the reference's own load: every hour one file with the full last
    # 24 h of readings (about 1,500 lines)
    "ingest_hourly": dict(
        start="2024-03-01", locations=REF_LOCATIONS, overlap_hours=24,
        warm_hours=24, period_s=3.0, bad_datetime_share=0.01),
}


def value_code(loc, hour, pidx):
    """Tenths of the reading value: a pure function of the reading key."""
    return (loc * 7919 + hour * 104729 + pidx * 1299709 + 12345) % 3000 + 1


def tenths(n):
    return f"{n // 10}.{n % 10}"


def location_meta(loc):
    """Per-location metadata, constant across extractions."""
    lat = f"{8 + (loc % 100) // 10}.{loc % 10}"
    lon = f"{102 + (loc // 100) % 7}.{(loc // 10) % 10}"
    return CITIES[loc % len(CITIES)], lat, lon


@functools.lru_cache(maxsize=None)
def _iso(ts):
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def reading_line(loc, pidx, dt_text, value_text, extracted):
    city, lat, lon = location_meta(loc)
    return (f'{{"location_id": {loc}, "sensor_id": {loc * 10 + pidx}, '
            f'"datetime": "{dt_text}", "parameter": "{PARAMS[pidx]}", '
            f'"value": {value_text}, "unit": "ug/m3", '
            f'"extracted_at": "{extracted}", "location_name": "Station {loc}", '
            f'"city": "{city}", "timezone": "Asia/Ho_Chi_Minh", "country": "VN", '
            f'"latitude": {lat}, "longitude": {lon}}}')


@functools.lru_cache(maxsize=None)
def local_text(base, hour):
    """The reading's local wall time with its +07:00 offset."""
    return (base + timedelta(hours=hour) + LOCAL_OFFSET).strftime(
        "%Y-%m-%dT%H:%M:%S") + "+07:00"


def _base(p):
    return datetime.strptime(p["start"], "%Y-%m-%d").replace(tzinfo=timezone.utc)


def _location_params(rng, locations):
    return {loc: sorted(rng.sample(range(len(PARAMS)), PARAMS_PER_LOCATION))
            for loc in range(1, locations + 1)}


def _day_hours(rng, locations):
    """The HOURS_PER_DAY hours of one day each location reports on."""
    return {loc: sorted(rng.sample(range(24), HOURS_PER_DAY)) for loc in range(1, locations + 1)}


def _chosen(rng, n, share):
    """Exactly round(n * share) of range(n), so input volume does not vary by seed."""
    return set(rng.sample(range(n), round(n * share)))


def backfill(seed, p):
    """One NDJSON landing of `days` of readings.

    A reading is (location, UTC hour, parameter); every location measures
    its PARAMS_PER_LOCATION parameters on HOURS_PER_DAY seeded hours of
    each day. A `dup_share` of readings has a stale first extraction plus
    a re-extraction 24 h later; only the re-extraction carries the true
    value. A `bad_datetime_share` of extra lines carries an unparseable
    datetime and must be dropped.
    Returns (files: {name: text}, truth: {(loc, hour): {pidx: tenths}}).
    """
    rng = random.Random(f"backfill-{seed}")
    base = _base(p)
    params = _location_params(rng, p["locations"])
    keys = []
    for day in range(p["days"]):
        for loc, hours in _day_hours(rng, p["locations"]).items():
            keys += [(loc, day * 24 + h, pidx) for h in hours for pidx in params[loc]]
    dups = _chosen(rng, len(keys), p["dup_share"])
    bads = _chosen(rng, len(keys), p["bad_datetime_share"])
    truth, lines = {}, []
    for i, (loc, hour, pidx) in enumerate(keys):
        dt_text = local_text(base, hour)
        first = _iso(base + timedelta(hours=hour + 1))
        n = value_code(loc, hour, pidx)
        truth.setdefault((loc, hour), {})[pidx] = n
        if i in dups:
            again = _iso(base + timedelta(hours=hour + 25))
            lines.append(reading_line(loc, pidx, dt_text, tenths(n + 10000), first))
            lines.append(reading_line(loc, pidx, dt_text, tenths(n), again))
        else:
            lines.append(reading_line(loc, pidx, dt_text, tenths(n), first))
        if i in bads:
            bad = BAD_DATETIMES[rng.randrange(len(BAD_DATETIMES))]
            lines.append(reading_line(loc, pidx, bad, "9999.9", first))
    rng.shuffle(lines)
    per = math.ceil(len(lines) / p["files"])
    files = {f"part-{i:05d}.json": "\n".join(lines[i * per:(i + 1) * per]) + "\n"
             for i in range(p["files"])}
    return files, truth


def hourly(seed, p, hours):
    """One NDJSON file per simulated hour, `hours` files in all.

    The file for hour h holds the readings at hour h, then re-extracts
    every reading of the previous `overlap_hours` hours with the same
    values, as the reference's hourly extraction re-reads the last 24 h.
    The re-extractions are duplicates the stream's watermarked dedup
    drops, so the truth does not change.
    Returns (files: [text per hour], truth: {(loc, hour): {pidx: tenths}}).
    """
    rng = random.Random(f"hourly-{seed}")
    base = _base(p)
    params = _location_params(rng, p["locations"])
    truth, by_hour, files = {}, [], []
    for hour in range(hours):
        if hour % 24 == 0:
            reporting = {h: [] for h in range(24)}
            for loc, hs in _day_hours(rng, p["locations"]).items():
                for h in hs:
                    reporting[h].append(loc)
        dt_text = local_text(base, hour)
        extracted = _iso(base + timedelta(hours=hour + 1))
        lines, readings = [], []
        for loc in reporting[hour % 24]:
            for pidx in params[loc]:
                n = value_code(loc, hour, pidx)
                truth.setdefault((loc, hour), {})[pidx] = n
                readings.append((loc, pidx, dt_text, tenths(n)))
        for i in sorted(_chosen(rng, len(readings), p["bad_datetime_share"])):
            loc, pidx = readings[i][:2]
            bad = BAD_DATETIMES[rng.randrange(len(BAD_DATETIMES))]
            lines.append(reading_line(loc, pidx, bad, "9999.9", extracted))
        lines += [reading_line(loc, pidx, d, v, extracted) for loc, pidx, d, v in readings]
        lines += [reading_line(loc, pidx, d, v, extracted)
                  for rs in by_hour[-p["overlap_hours"]:] for loc, pidx, d, v in rs]
        by_hour.append(readings)
        rng.shuffle(lines)
        files.append("\n".join(lines) + "\n")
    return files, truth


def ingest_hours(p, seconds):
    """Hour files needed: the warm hours plus enough ticks to outlast the run."""
    return p["warm_hours"] + math.ceil(seconds / p["period_s"]) + 8


def generate(workload, seed, seconds):
    """All inputs of one workload as {relative path: text}, plus truth."""
    p = WORKLOADS[workload]
    if workload == "etl_backfill":
        files, truth = backfill(seed, p)
        return {f"raw/{k}": v for k, v in files.items()}, {"readings": truth}
    if workload == "ingest_hourly":
        hour_files, truth = hourly(seed, p, ingest_hours(p, seconds))
        out = {f"staged/hour-{h:05d}.json": t for h, t in enumerate(hour_files)}
        return out, {"readings": truth}
    raise ValueError(f"unknown workload {workload}")


def digest(files):
    h = hashlib.sha256()
    for name in sorted(files):
        h.update(name.encode())
        h.update(b"\0")
        h.update(files[name].encode())
        h.update(b"\0")
    return h.hexdigest()


def write(files, root):
    root = Path(root)
    for name, text in files.items():
        path = root / name
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)


def input_rows(workload, files):
    """Raw NDJSON lines per input file."""
    prefix = {"etl_backfill": "raw/", "ingest_hourly": "staged/"}[workload]
    return {name: text.count("\n") for name, text in files.items()
            if name.startswith(prefix)}
