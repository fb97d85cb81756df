"""Self-tests of the benchmark's generator and output checks (no Spark).

Run: python3 perfbench/test_bench.py
"""
import copy
import filecmp
import tempfile
import unittest
from pathlib import Path

import pyarrow as pa

BENCH = Path(__file__).resolve().parent

import check  # noqa: E402
import gen  # noqa: E402


def small(workload):
    p = copy.deepcopy(gen.WORKLOADS[workload])
    p.update({"etl_backfill": dict(locations=20, days=5),
              "ingest_hourly": dict(locations=20)}[workload])
    return p


def write_mart(con, cols, path, aqi=True):
    """A mart laid out as the engine writes it, made with DuckDB."""
    t = pa.table(cols)
    con.register("src", t)
    extra = ", 42 AS aqi, 'Good' AS aqi_level, 'pm25' AS dominant_pollutant" if aqi else ""
    con.execute(f"""COPY (SELECT location_id, to_timestamp(ts) AS datetime, pm25, pm10, no2,
                          so2, o3, co, bc, city_name, 'VN' AS country_code, latitude,
                          longitude{extra}, year, month, day FROM src)
                    TO '{path}' (FORMAT PARQUET, PARTITION_BY (year, month, day))""")
    con.unregister("src")


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.WORKLOADS:
            a, _ = gen.generate(w, 7, 4)
            b, _ = gen.generate(w, 7, 4)
            c, _ = gen.generate(w, 8, 4)
            self.assertEqual(gen.digest(a), gen.digest(b), w)
            self.assertNotEqual(gen.digest(a), gen.digest(c), w)
            with tempfile.TemporaryDirectory(dir=BENCH) as d1, \
                    tempfile.TemporaryDirectory(dir=BENCH) as d2:
                gen.write(a, d1)
                gen.write(b, d2)
                names = sorted(a)
                match, mismatch, errors = filecmp.cmpfiles(d1, d2, names, shallow=False)
                self.assertEqual((len(match), mismatch, errors), (len(names), [], []), w)

    def test_backfill_truth_matches_lines(self):
        p = small("etl_backfill")
        files, truth = gen.backfill(3, p)
        lines = sum(t.count("\n") for t in files.values())
        readings = sum(len(v) for v in truth.values())
        self.assertGreater(lines, readings)  # duplicates and bad datetimes on top


class CheckTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory(dir=BENCH)
        self.dir = Path(self.tmp.name)
        self.con = check.connect()

    def tearDown(self):
        self.tmp.cleanup()

    def mart(self, name, cols):
        path = self.dir / f"{name}{len(list(self.dir.iterdir()))}"
        write_mart(self.con, cols, path)
        check.parquet_view(self.con, name, path)

    def test_correct_mart_passes_and_corrupted_mart_is_caught(self):
        p = small("etl_backfill")
        _, truth = gen.backfill(1, p)
        good = check.expected_mart(truth, p["start"])
        self.mart("good", good)
        self.assertEqual(check.check_mart(self.con, "good", truth, p["start"]), [])
        self.assertEqual(check.check_aqi_columns(self.con, "good"), [])
        value = copy.deepcopy(good)
        i = next(k for k, v in enumerate(value["pm25"]) if v is not None)
        value["pm25"][i] += 1000.0  # the stale extraction survived
        missing = {k: v[1:] for k, v in good.items()}
        dup = {k: v + v[:1] for k, v in good.items()}
        meta = copy.deepcopy(good)
        meta["city_name"][0] = "Unknown"
        for name, cols in (("value", value), ("missing", missing), ("dup", dup), ("meta", meta)):
            self.mart(name, cols)
            self.assertNotEqual(check.check_mart(self.con, name, truth, p["start"]), [], name)

    def test_validate_row_check(self):
        ok = {"row_count": 5, "distinct_keys": 5, "null_location_id": 0,
              "null_datetime": 0, "null_country_code": 0}
        self.assertEqual(check.check_validate(ok, 5), [])
        self.assertNotEqual(check.check_validate(dict(ok, distinct_keys=4), 5), [])

    def test_duplicate_streamed_reading_is_caught(self):
        p = small("ingest_hourly")
        _, truth = gen.hourly(4, p, 30)
        cols = check.expected_mart(truth, p["start"], 30)
        self.mart("ingest_raw", cols)
        self.assertEqual(check.check_stream_mart(self.con, truth, 30), [])
        self.mart("ingest_raw", {k: v + v[:1] for k, v in cols.items()})
        self.assertNotEqual(check.check_stream_mart(self.con, truth, 30), [])


if __name__ == "__main__":
    unittest.main()
