"""Reproduce the silver-merge data loss recorded in NOTES.md.

    python3 perfbench/repro_merge_defect.py

Merges three 168-hour payloads for three locations into one silver table,
one ``merge_observations`` each, and prints the rows kept and the rows
whose ``obs_date`` partition is NULL. A correct merge keeps 504 rows.
Scratch files live under ``perfbench/.runs`` and are removed.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def main() -> int:
    import numpy as np

    from perfbench import gen, harness

    scratch = harness.Scratch(os.path.join(HERE, ".runs"))
    spark = None
    try:
        spark = harness.start_spark(scratch)
        from meteo_etl_spark.operators.atomic import read_table
        from meteo_etl_spark.pipeline.warehouse import Warehouse, merge_observations
        from meteo_etl_spark.sources.registry import create_source

        rng = np.random.default_rng(0)
        for atomic in (False, True):
            wh = Warehouse(scratch.path(f"wh-atomic-{atomic}"), atomic=atomic)
            for lat, lon in gen.location_grid(3):
                src = create_source("meteo", {"latitude": lat, "longitude": lon})
                payload = gen.meteo_payload(rng, lat, lon, 168)
                records = src.transform(src.payload_to_df(spark, payload))
                merge_observations(spark, wh, records, fetch_id=f"{lat},{lon}")
            obs = read_table(spark, wh.observations_path)  # keeps the obs_date partition column
            total = obs.count()
            null_dates = obs.filter("obs_date IS NULL").count()
            print(f"atomic={atomic}: {total} rows kept of 504 merged; {null_dates} with NULL obs_date")
        return 0
    finally:
        if spark is not None:
            harness.stop_spark(spark, None)
        scratch.close()


if __name__ == "__main__":
    sys.exit(main())
