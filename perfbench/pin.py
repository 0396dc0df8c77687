"""Establish the lake_queries result pins.

    python3 perfbench/pin.py

Runs each lake query once over the generated sf0.1 lake, checks its full
result against the query's DuckDB oracle SQL from the registry (bit-exact,
order-insensitive, as the registry's oracle-parity tests compare), and only
then records the engine's own fingerprint of the result (row count, XOR and
lane sum of row hashes) plus the rows its scans read, in ``pins.json``.
Timed ops re-check these pins on every run; a query whose result does not
match its oracle is reported and not pinned.
"""

from __future__ import annotations

import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run  # noqa: E402


def compare(spdf, ddf) -> str | None:
    """First difference between two result frames, ignoring row order."""
    import pandas as pd

    if sorted(spdf.columns) != sorted(ddf.columns):
        return f"columns {sorted(spdf.columns)} vs {sorted(ddf.columns)}"
    if len(spdf) != len(ddf):
        return f"rows {len(spdf)} vs {len(ddf)}"
    cols = sorted(spdf.columns)
    a = spdf.reindex(cols, axis=1).sort_values(by=cols, ignore_index=True)
    b = ddf.reindex(cols, axis=1).sort_values(by=cols, ignore_index=True)

    def null(v) -> bool:
        return v is None or v is pd.NaT or (isinstance(v, float)
                                            and math.isnan(v))

    for c in cols:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if not (null(x) and null(y)) and x != y:
                return f"{c}[{i}]: {x!r} != {y!r}"
    return None


def main() -> int:
    import duckdb

    from workloads import LAKE_QUERIES, PINS, LakeQueries, fingerprint, lake_specs

    host = run.host_settings()
    LakeQueries.make_inputs(run.WORK, 0)
    from gh_archive_data_pipeline_spark.session import get_spark
    from spans import Tracer

    spark = get_spark(app_name="perfbench-pin",
                      confs={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    lake = LakeQueries(spark, run.WORK, 0)
    specs = lake_specs()
    con = duckdb.connect()
    for t in os.listdir(lake.data):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{lake.data}/{t}')")
    tracer = Tracer(spark, enabled=True)
    pins, bad = {}, {}
    for name in LAKE_QUERIES:
        spec = specs[name]
        err = compare(spec.fn(spark, lake.data).toPandas(),
                      con.execute(spec.sql).fetchdf())
        if err:
            bad[name] = err
            continue
        with tracer.span("pin", 0) as s:
            got, _ = fingerprint(spec.fn(spark, lake.data))
        pins[name] = {"rows": got[0], "xor": got[1], "sum32": got[2],
                      "input_records": s.counters["input_records"]}
        print(name, pins[name], file=sys.stderr)
    spark.stop()
    for name, err in bad.items():
        print(f"NOT PINNED {name}: {err}", file=sys.stderr)
    if bad:
        return 1
    with open(PINS, "w") as f:
        json.dump({"host": host, "lake": os.path.basename(lake.data),
                   **pins}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
