"""Independent references the benchmark checks the program against.

- Solar streams: DuckDB replays the registered ``solar_anomalies`` oracle
  SQL (the ``queries/solar.py`` ``_SOLAR_CTE`` math) over the very rows
  the generator wrote.
- Query mix: each query's result digest is compared with the digest of
  its ``registry.ORACLES`` SQL run by DuckDB over the same tables.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float) or type(v).__name__.startswith("float"):
        f = float(v)
        return "nan" if math.isnan(f) else repr(f + 0.0)
    if isinstance(v, (bool, str, bytes)):
        return repr(v)
    if type(v).__name__.startswith(("int", "uint")) or type(v).__name__ == "Decimal":
        f = float(v)
        return repr(f + 0.0)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def frame_digest(pdf) -> str:
    """Order-insensitive digest: columns sorted by name, each value put in
    a canonical text form (all numbers as doubles, NULL and NaN named)."""
    cols = sorted(pdf.columns)
    rows = sorted("|".join(_canon(v) for v in row)
                  for row in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(",".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()[:24]}"


def oracle_digests(tables_dir: str, names: list[str]) -> dict[str, str]:
    from kafka_streams_example_spark.registry import ORACLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t)}.parquet')")
    return {n: frame_digest(con.execute(ORACLES[n]).fetchdf()) for n in names}


def solar_anomaly_keys(source_glob: str, closed_before_us: int) -> set[tuple]:
    """(w_start, panel, module, sum_power) of every anomaly in windows that
    end at or before ``closed_before_us``, the final watermark."""
    from kafka_streams_example_spark.registry import ORACLES

    con = duckdb.connect()
    con.execute(f"""CREATE VIEW events AS SELECT
        timestamp AS ts,
        json_extract_string(value, '$.panel') AS user_id,
        json_extract_string(value, '$.name') AS event_type,
        CAST(json_extract(value, '$.power') AS DOUBLE) AS value
        FROM read_parquet('{source_glob}')""")
    rows = con.execute(
        f"SELECT w_start, panel, module, sum_power FROM "
        f"({ORACLES['solar_anomalies']}) WHERE w_end * 1000000 <= "
        f"{closed_before_us}").fetchall()
    return {(int(w), p, m, float(s)) for w, p, m, s in rows}
