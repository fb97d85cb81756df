"""Output checks for the perfbench workloads.

Each check compares what the engine wrote or returned with truth the
generator knows in closed form, reading the engine's parquet files with
DuckDB, which shares no code with the engine. A check returns a list of
problems; an empty list means the output is correct.
"""
from datetime import datetime, timedelta, timezone

import duckdb

from gen import PARAMS, location_meta, tenths


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def parquet_view(con, name, path, hive=True):
    """View over a parquet directory. hive=True reads the mart layout
    (year/month/day directories as strings, as the engine writes them),
    hive=False no directory columns.
    """
    opts = (", hive_partitioning = true, hive_types = "
            "{'year': VARCHAR, 'month': VARCHAR, 'day': VARCHAR}") if hive else ""
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{path}/**/*.parquet'{opts})")


def expected_mart(readings, start, hours=None):
    """One mart row per (location, UTC hour) with at least one reading."""
    base = datetime.strptime(start, "%Y-%m-%d").replace(tzinfo=timezone.utc)
    cols = {k: [] for k in ("location_id", "ts", *PARAMS, "city_name",
                            "latitude", "longitude", "year", "month", "day")}
    for (loc, hour), vals in sorted(readings.items()):
        if hours is not None and hour >= hours:
            continue
        ts = base + timedelta(hours=hour)
        city, lat, lon = location_meta(loc)
        cols["location_id"].append(str(loc))
        cols["ts"].append(int(ts.timestamp()))
        for i, p in enumerate(PARAMS):
            cols[p].append(float(tenths(vals[i])) if i in vals else None)
        cols["city_name"].append(city)
        cols["latitude"].append(float(lat))
        cols["longitude"].append(float(lon))
        cols["year"].append(f"{ts:%Y}")
        cols["month"].append(f"{ts:%m}")
        cols["day"].append(f"{ts:%d}")
    return cols


def check_mart(con, view, readings, start, hours=None):
    """The mart holds exactly the expected rows, values and metadata."""
    import pyarrow as pa
    truth = pa.table(expected_mart(readings, start, hours))
    con.register("truth", truth)
    n_truth = truth.num_rows
    n_mart, n_keys = con.execute(
        f"SELECT count(*), count(DISTINCT (location_id, datetime)) FROM {view}").fetchone()
    problems = []
    if n_mart != n_truth or n_keys != n_truth:
        problems.append(f"{view}: {n_mart} rows, {n_keys} distinct keys, expected {n_truth}")
    value_cols = list(PARAMS) + ["city_name", "latitude", "longitude", "year", "month", "day"]
    diff = " OR ".join(f"m.{c} IS DISTINCT FROM t.{c}" for c in value_cols)
    bad = con.execute(f"""
        WITH m AS (SELECT *, epoch(datetime)::BIGINT AS ts FROM {view})
        SELECT count(*) FROM m FULL OUTER JOIN truth t
          ON m.location_id = t.location_id AND m.ts = t.ts
        WHERE m.ts IS NULL OR t.ts IS NULL OR m.country_code IS DISTINCT FROM 'VN'
           OR {diff}""").fetchone()[0]
    if bad:
        sample = con.execute(f"""
            WITH m AS (SELECT *, epoch(datetime)::BIGINT AS ts FROM {view})
            SELECT t.location_id, t.ts, m.location_id, m.ts, t.pm25, m.pm25
            FROM m FULL OUTER JOIN truth t ON m.location_id = t.location_id AND m.ts = t.ts
            WHERE m.ts IS NULL OR t.ts IS NULL OR {diff} LIMIT 3""").fetchall()
        problems.append(f"{view}: {bad} rows differ from truth, e.g. {sample}")
    con.unregister("truth")
    return problems


def check_aqi_columns(con, view):
    cols = {r[0] for r in con.execute(f"DESCRIBE {view}").fetchall()}
    missing = {"aqi", "aqi_level", "dominant_pollutant"} - cols
    if missing:
        return [f"{view}: AQI columns missing: {sorted(missing)}"]
    if con.execute(f"SELECT count(aqi) FROM {view}").fetchone()[0] == 0:
        return [f"{view}: aqi is null on every row"]
    return []


def check_validate(row, n_expected):
    """AqPipeline.validate's one-row audit agrees with the truth."""
    want = {"row_count": n_expected, "distinct_keys": n_expected,
            "null_location_id": 0, "null_datetime": 0, "null_country_code": 0}
    got = {k: row.get(k) for k in want}
    return [] if got == want else [f"validate returned {got}, expected {want}"]


def check_stream_mart(con, readings, hours):
    """Each landed reading reached the streamed mart exactly once."""
    problems = []
    for i, p in enumerate(PARAMS):
        want = sum(1 for (loc, h), v in readings.items() if h < hours and i in v)
        got = con.execute(f"SELECT count({p}) FROM ingest_raw").fetchone()[0]
        if got != want:
            problems.append(f"streamed mart: {got} {p} readings, expected {want}")
    return problems
