"""Sources-layer tests: drift detection/alignment, idempotent bronze
loads, ingestion log, month-range/checksum utils, and the async HTTP
downloader against a local server (retry, 404 short-circuit,
skip-if-exists)."""

from __future__ import annotations

import http.server
import os
import threading

import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from nyc_tlc_analytics_pipeline_spark.core.config import IngestionConfig
from nyc_tlc_analytics_pipeline_spark.sources.downloader import (
    download_months,
    generate_month_range,
    sha256_file,
)
from nyc_tlc_analytics_pipeline_spark.sources.drift import (
    align_to_schema,
    detect_drift,
)
from nyc_tlc_analytics_pipeline_spark.sources import sinks
from nyc_tlc_analytics_pipeline_spark.sources.readers import read_zones_csv

from .tlc_fixtures import zones_fixture


def _schema(*fields) -> StructType:
    return StructType([StructField(n, t) for n, t in fields])


def test_detect_drift_cases():
    expected = _schema(("a", IntegerType()), ("b", StringType()))
    observed = _schema(("a", IntegerType()), ("c", DoubleType()))
    r = detect_drift(observed, expected)
    assert r.new_columns == (("c", "double"),)
    assert r.removed_columns == ("b",)
    assert not r.is_breaking
    r2 = detect_drift(_schema(("a", StringType())), expected)
    assert r2.type_changes == (("a", "int", "string"),)
    assert r2.is_breaking


def test_align_to_schema_nulls_and_drops(spark):
    df = spark.createDataFrame([(1, "x", 9.5)], "a int, extra string, b double")
    expected = _schema(("a", IntegerType()), ("b", DoubleType()), ("missing", StringType()))
    out = align_to_schema(df, expected, strict_types=False)
    assert out.columns == ["a", "b", "missing"]
    row = out.head()
    assert row.a == 1 and row.b == 9.5 and row.missing is None


def test_align_raises_on_breaking_drift(spark):
    df = spark.createDataFrame([("not-int",)], "a string")
    with pytest.raises(ValueError, match="breaking schema drift"):
        align_to_schema(df, _schema(("a", IntegerType())), strict_types=True)


def test_ingestion_log(spark):
    df = sinks.ingestion_log_rows(
        spark,
        [
            {"service_type": "yellow", "source_file": "a.parquet", "rows_loaded": 10},
            {"service_type": "green", "source_file": "b.parquet", "rows_loaded": 5},
        ],
    )
    rows = df.collect()
    assert len(rows) == 2
    assert len({r.log_id for r in rows}) == 2


def test_zones_csv(spark, tmp_path):
    csv_path = str(tmp_path / "zones.csv")
    zones_fixture().to_csv(csv_path, index=False)
    z = read_zones_csv(spark, csv_path)
    assert z.count() == 12
    assert dict(z.dtypes)["LocationID"] in ("int", "bigint")


def test_zones_csv_with_reordered_header_raises(spark, tmp_path):
    """The zones schema is declared, not inferred: a file whose header
    does not match it fails instead of being read by position."""
    csv_path = str(tmp_path / "zones.csv")
    z = zones_fixture()
    z[["Zone", "Borough", "LocationID", "service_zone"]].to_csv(csv_path, index=False)
    with pytest.raises(Exception, match="(?i)header"):
        read_zones_csv(spark, csv_path).collect()


def test_generate_month_range():
    assert generate_month_range("2024-11", "2025-02") == [
        "2024-11",
        "2024-12",
        "2025-01",
        "2025-02",
    ]
    assert generate_month_range("2024-01", "2024-01") == ["2024-01"]
    with pytest.raises(ValueError):
        generate_month_range("2025-01", "2024-01")


def test_sha256_file(tmp_path):
    import hashlib

    p = tmp_path / "x.bin"
    p.write_bytes(b"hello world")
    assert sha256_file(str(p)) == hashlib.sha256(b"hello world").hexdigest()


class _Handler(http.server.BaseHTTPRequestHandler):
    """Serves yellow/green 2024-01; 404s hvfhv; fails yellow 2024-02 twice
    then succeeds (exercises retry)."""

    fail_counts: dict[str, int] = {}

    def do_GET(self):  # noqa: N802
        name = os.path.basename(self.path)
        if "fhvhv" in name:
            self.send_error(404)
            return
        if "2024-02" in name:
            n = self.fail_counts.get(name, 0)
            if n < 2:
                self.fail_counts[name] = n + 1
                self.send_error(500)
                return
        body = f"parquet-bytes-for-{name}".encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # silence
        pass


@pytest.fixture()
def http_base_url():
    _Handler.fail_counts = {}
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_downloader_retry_404_and_skip(tmp_path, http_base_url):
    cfg = IngestionConfig(max_retries=3, retry_backoff_base_seconds=0.01)
    landing = str(tmp_path / "landing")
    results = download_months(
        ["2024-01", "2024-02"], landing, ("yellow", "hvfhv"), cfg, http_base_url
    )
    by = {os.path.basename(r.path): r for r in results}
    ok = by["yellow_tripdata_2024-01.parquet"]
    assert ok.status == "downloaded" and ok.attempts == 1 and ok.sha256
    retried = by["yellow_tripdata_2024-02.parquet"]
    assert retried.status == "downloaded" and retried.attempts == 3  # 2 fails + 1 ok
    nf = by["fhvhv_tripdata_2024-01.parquet"]
    assert nf.status == "not_found" and nf.attempts == 1  # 404 short-circuit
    # second run: existing files are skipped
    again = download_months(
        ["2024-01"], landing, ("yellow",), cfg, http_base_url
    )
    assert again[0].status == "skipped_exists"


def test_timestamp_policy_one_type(spark, tmp_path):
    """Engine-wide timestamp policy: parquet TIMESTAMP(isAdjustedToUTC=
    false) — which Spark 4 would otherwise infer as TIMESTAMP_NTZ, a type
    that rejects numeric casts — must surface as plain TimestampType both
    through the tuned session (conf) and through load_table (normalizer),
    and the NTZ-safe epoch helper must be castable on it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    from nyc_tlc_analytics_pipeline_spark.functions.scalar import to_epoch

    p = str(tmp_path / "ntz.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([0, 10**6], type=pa.timestamp("us"))}), p
    )
    df = spark.read.parquet(p)
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    assert [r[0] for r in df.select(to_epoch("ts")).orderBy("ts").collect()] == [0, 1]


def test_events_ts_is_timestamp_type(spark):
    from pyspark.sql.types import TimestampType

    from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table
    from .conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampType)


def test_load_table_reads_a_table_replaced_at_the_same_path(spark, tmp_path):
    """The plan memo is keyed on the file's identity as well as its
    path: a table file replaced in place is read afresh, schema and
    rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table

    def write(**cols):
        tmp = str(tmp_path / "next.parquet")
        pq.write_table(pa.table(cols), tmp)
        os.replace(tmp, str(tmp_path / "region.parquet"))

    write(r_regionkey=[0, 1, 2])
    assert load_table(spark, str(tmp_path), "region").count() == 3
    write(r_regionkey=[10, 11], r_name=["EAST", "WEST"])
    rows = load_table(spark, str(tmp_path), "region").collect()
    assert sorted(tuple(r) for r in rows) == [(10, "EAST"), (11, "WEST")]
