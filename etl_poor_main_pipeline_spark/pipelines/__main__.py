"""Per-layer runnable entry points — the E4 analogue of the reference's
``python -m`` mains with a today's-date default
(analytics__world_weather.py:189-196 and peers; README.md:71-86).

    python -m etl_poor_main_pipeline_spark.pipelines bronze --lake-root /tmp/lake
    python -m etl_poor_main_pipeline_spark.pipelines silver --lake-root /tmp/lake --country US
    python -m etl_poor_main_pipeline_spark.pipelines gold   --lake-root /tmp/lake \
        --jdbc-url jdbc:postgresql://...

Bronze fetches via ``ETL_API_FETCH`` = "module:callable" (the live-HTTP
hook, mirroring the reference's env-driven API client, utils/config.py:
25-32), resolved by ``sources.api.resolve_fetch``; without it, a
deterministic offline payload is used so the pipeline is runnable with
zero external services (the test posture, SURVEY §7.5). Each main exits
nonzero on failure like the reference's raise-on-failure mains.
"""

from __future__ import annotations

import argparse
import datetime as _dt
import os
import sys

from ..sources.api import resolve_fetch

DEFAULT_CITIES = ["Toronto", "Vancouver", "New York", "Chicago", "London"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="etl_poor_main_pipeline_spark.pipelines")
    ap.add_argument("layer", choices=["bronze", "silver", "gold"])
    ap.add_argument("--lake-root", required=True)
    ap.add_argument(
        "--date-id", default=_dt.date.today().isoformat(), help="YYYY-MM-DD (default: today)"
    )
    ap.add_argument("--country", default="US", help="silver only")
    ap.add_argument("--cities", nargs="*", default=DEFAULT_CITIES, help="bronze only")
    ap.add_argument("--jdbc-url", default="", help="gold only")
    ap.add_argument("--single-file", action="store_true", help="reference layout parity (W5)")
    args = ap.parse_args(argv)

    from ..session import get_spark
    from . import bronze, gold, silver

    spark = get_spark(app_name=f"pipeline-{args.layer}")
    if args.layer == "bronze":
        fetch = resolve_fetch(os.getenv("ETL_API_FETCH"))
        n = bronze.run(
            spark, args.lake_root, args.date_id, args.cities, fetch,
            single_file=args.single_file,
        )
    elif args.layer == "silver":
        n = silver.run(
            spark, args.lake_root, args.date_id, args.country, single_file=args.single_file
        )
    else:
        n = gold.run(spark, args.lake_root, args.date_id, jdbc_url=args.jdbc_url)
    print(f"{args.layer} date_id={args.date_id}: {n} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
