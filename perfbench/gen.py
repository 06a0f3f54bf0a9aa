"""Seeded input generators for the benchmark.

Everything a workload reads is made here from ``--seed``; the program
under test sees only the files written.

- TLC landing files: one parquet file per (service, month) in the raw
  TLC schema, plus a 265-row zones CSV.  A fixed share of yellow/green rows
  repeats its predecessor exactly, so the md5 ``trip_id`` dedup removes
  real duplicates.
- Catalog documents: the ``documents`` table q91 reads, shaped like the
  sf0.1 testdata table of that name.

Both are drawn with vectorised NumPy from ``default_rng(seed)`` and
written with Arrow, one parquet file per table: generation stays well
under a second, so set-up time is dominated by the program, not by the
generator.
"""

from __future__ import annotations

import csv
import os

# (month, days covered): the first 12 days of January 2025 straddle the
# 2025-01-05 congestion-fee epoch while keeping the fact table at 36
# (service, day) partitions
MONTHS = (("2025-01", 12),)
SERVICES = {  # service -> (landing file prefix, rows per monthly file)
    "yellow": ("yellow_tripdata", 18000),
    "green": ("green_tripdata", 6000),
    "hvfhv": ("fhvhv_tripdata", 36000),
}
# 70 % of pickups/dropoffs land in these zones, so the analytics HAVING
# thresholds (>= 50 trips per zone-day, >= 100 per zone-company) are met
DENSE_ZONES = (161, 236, 237, 142, 74, 132, 138, 48)
HV_LICENSES = ("HV0002", "HV0003", "HV0003", "HV0003", "HV0004", "HV0005", "HV0005")
DUP_EVERY = 40  # yellow/green: every 40th row repeats the one before it

_MANHATTAN = {
    4, 12, 13, 24, 41, 42, 43, 45, 48, 50, 68, 74, 75, 79, 87, 88, 90, 100,
    103, 104, 105, 107, 113, 114, 116, 120, 125, 127, 128, 137, 140, 141,
    142, 143, 144, 148, 151, 152, 153, 158, 161, 162, 163, 164, 166, 170,
    186, 194, 202, 209, 211, 224, 229, 230, 231, 232, 233, 234, 236, 237,
    238, 239, 243, 244, 246, 249, 261, 262, 263,
}
_MANHATTAN_BORO_ZONE = {41, 42, 74, 75, 116, 120, 127, 128, 152, 166, 243, 244}
_OUTER = ("Queens", "Brooklyn", "Bronx", "Staten Island")


def zone_rows() -> list[tuple[int, str, str, str]]:
    """The 265-row zone lookup: airports, Manhattan yellow/boro zones,
    outer boroughs and the two unknown zones."""
    rows = []
    for z in range(1, 266):
        if z == 1:
            rows.append((z, "EWR", "Newark Airport", "EWR"))
        elif z in (132, 138):
            name = "JFK Airport" if z == 132 else "LaGuardia Airport"
            rows.append((z, "Queens", name, "Airports"))
        elif z in (264, 265):
            rows.append((z, "Unknown", "NV" if z == 264 else "Outside of NYC", "N/A"))
        elif z in _MANHATTAN:
            sz = "Boro Zone" if z in _MANHATTAN_BORO_ZONE else "Yellow Zone"
            rows.append((z, "Manhattan", f"Manhattan {z}", sz))
        else:
            boro = _OUTER[z % len(_OUTER)]
            rows.append((z, boro, f"{boro} {z}", "Boro Zone"))
    return rows


def write_zones_csv(path: str) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["LocationID", "Borough", "Zone", "service_zone"])
        w.writerows(zone_rows())


def _month_table(service: str, month: str, days: int, rng):
    """One month of one service as an Arrow table of the raw TLC schema."""
    import numpy as np
    import pyarrow as pa

    _, n = SERVICES[service]
    u = lambda: rng.random(n)  # noqa: E731
    r2 = lambda a: np.round(a, 2)  # noqa: E731

    def pick(values):
        return np.asarray(values)[rng.integers(0, len(values), n)]

    def zone():
        dense = np.asarray(DENSE_ZONES)[rng.integers(0, len(DENSE_ZONES), n)]
        return np.where(u() < 0.7, dense, rng.integers(1, 266, n))

    start = np.datetime64(month + "-01T00:00:00", "s")
    pickup = start + rng.integers(0, days * 86400, n).astype("timedelta64[s]")
    dist = r2(0.3 + u() * 17.7)
    if service == "hvfhv":
        secs = rng.integers(240, 5400, n)
        base = r2(5.0 + dist * (1.8 + u() * 1.7))
        tips = r2(base * u() * 0.25)
        tolls = np.where(u() < 0.3, 6.55, 0.0)
        bcf, tax = r2(base * 0.03), r2(base * 0.08875)
        airport = np.where(u() < 0.1, 2.5, 0.0)
        total = base + tips + tolls + bcf + tax + 2.75 + airport
        cols = {
            "hvfhs_license_num": pick(HV_LICENSES),
            "dispatching_base_num": np.full(n, "B02764"),
            "originating_base_num": np.full(n, "B02510"),
            "request_datetime": pickup - np.timedelta64(8, "m"),
            "on_scene_datetime": pickup - np.timedelta64(2, "m"),
            "pickup_datetime": pickup,
            "dropoff_datetime": pickup + secs.astype("timedelta64[s]"),
            "PULocationID": zone().astype(np.int64),
            "DOLocationID": zone().astype(np.int64),
            "trip_miles": dist,
            "trip_time": secs.astype(np.int64),
            "base_passenger_fare": base,
            "tolls": tolls,
            "bcf": bcf,
            "sales_tax": tax,
            "congestion_surcharge": np.full(n, 2.75),
            "airport_fee": airport,
            "tips": tips,
            "driver_pay": r2(total * (0.6 + u() * 0.3)),
            "shared_request_flag": pick(("N", "N", "N", "Y")),
            "shared_match_flag": pick(("N", "N", "Y")),
            "access_a_ride_flag": np.full(n, " "),
            "wav_request_flag": np.full(n, "N"),
            "wav_match_flag": np.full(n, "N"),
        }
    else:
        # ~1 % reversed timestamps and ~0.5 % negative fares feed the
        # quality checks and the is_valid flag
        minutes = rng.integers(3, 90, n)
        dropoff = pickup + np.where(u() < 0.01, -1, minutes).astype("timedelta64[m]")
        fare = r2((3.0 + dist * (2.0 + u() * 2.0)) * np.where(u() < 0.005, -1, 1))
        tip = r2(np.abs(fare) * u() * 0.3)
        tolls = np.where(u() < 0.25, 6.55, 0.0)
        p = "tpep" if service == "yellow" else "lpep"
        cols = {
            "VendorID": pick((1, 2)).astype(np.int32),
            f"{p}_pickup_datetime": pickup,
            f"{p}_dropoff_datetime": dropoff,
            "passenger_count": rng.integers(1, 5, n).astype(np.float64),
            "trip_distance": dist,
            "RatecodeID": np.ones(n),
            "store_and_fwd_flag": np.full(n, "N"),
            "PULocationID": zone().astype(np.int32),
            "DOLocationID": zone().astype(np.int32),
            "payment_type": pick((1, 1, 2)).astype(np.int32),
            "fare_amount": fare,
            "extra": np.full(n, 0.5),
            "mta_tax": np.full(n, 0.5),
            "tip_amount": tip,
            "tolls_amount": tolls,
            "improvement_surcharge": np.full(n, 0.3),
            "total_amount": r2(fare + tip + tolls + 3.8),
            "congestion_surcharge": np.full(n, 2.5),
        }
        if service == "yellow":
            cols["Airport_fee"] = np.where(u() < 0.1, 1.75, 0.0)
        else:
            cols["ehail_fee"] = pa.nulls(n, pa.float64())
            cols["trip_type"] = np.ones(n)
        # every DUP_EVERY-th row repeats the row before it: real feeds
        # carry duplicate records, and the md5 trip_id dedup drops them
        src = np.arange(n)
        src[DUP_EVERY - 1 :: DUP_EVERY] -= 1
        cols = {k: (v if isinstance(v, pa.Array) else v[src]) for k, v in cols.items()}
    return pa.table(
        {
            k: (v if isinstance(v, pa.Array) else pa.array(v.astype("datetime64[us]")))
            if isinstance(v, pa.Array) or v.dtype.kind == "M"
            else v
            for k, v in cols.items()
        }
    )


def write_tlc_landing(landing_dir: str, seed: int) -> dict:
    """Write the monthly landing files and ``taxi_zones.csv`` into
    ``landing_dir``; return the input properties that shape the run."""
    import numpy as np
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(landing_dir, exist_ok=True)
    files = []
    for service, (prefix, _) in SERVICES.items():
        for month, days in MONTHS:
            path = os.path.join(landing_dir, f"{prefix}_{month}.parquet")
            pq.write_table(_month_table(service, month, days, rng), path)
            files.append(path)
    write_zones_csv(os.path.join(landing_dir, "taxi_zones.csv"))
    return {
        "landing_files": len(files),
        "landing_rows": sum(n for _, n in SERVICES.values()) * len(MONTHS),
        "landing_bytes": sum(os.path.getsize(f) for f in files),
    }


# -- catalog documents ----------------------------------------------------------

# the shape of the sf0.1 testdata ``documents`` table: 5 000 rows of 10-100
# words over a 30-word vocabulary, 5 % near-duplicates (an earlier text
# plus " dup"), 20 sources, 3/7 of rows in English
N_DOCS = 5000
_VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()


def write_documents(sf_dir: str, seed: int) -> dict:
    """Write ``<sf_dir>/documents.parquet``, the one table q91 reads."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = []
    for i in range(N_DOCS):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    langs = np.asarray(["en", "en", "en", "zh", "de", "es", "fr"], dtype=object)
    table = pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), N_DOCS)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(table, path)
    return {"documents": table.num_rows, "landing_bytes": os.path.getsize(path)}
