"""CLI dispatch — engine equivalent of CCFetcherCli.main
(CCFetcherCli.java:28-42): `Fetch` / `FetchIndices` / `CountMimes`, or a
bare config path meaning Fetch.

    python -m commoncrawl_fetcher_lite_spark.cli Fetch config.json
    python -m commoncrawl_fetcher_lite_spark.cli CountMimes config.json out/
    python -m commoncrawl_fetcher_lite_spark.cli FetchIndices config.json dest/

Config JSON uses the reference's shape (README.md:97-126); see
config.from_json_dict.
"""

from __future__ import annotations

import json
import sys

from commoncrawl_fetcher_lite_spark.config import from_json_dict
from commoncrawl_fetcher_lite_spark.session import get_spark


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__)
        return 2
    if argv[0] in ("Fetch", "FetchIndices", "CountMimes"):
        cmd, args = argv[0], argv[1:]
    else:
        cmd, args = "Fetch", argv  # bare config path → Fetch

    with open(args[0]) as f:
        cfg = from_json_dict(json.load(f))
    spark = get_spark(f"ccspark-{cmd}")

    if cmd == "CountMimes":
        from commoncrawl_fetcher_lite_spark.plans.mime_pipeline import (
            run_count_mimes,
            write_reports,
        )

        agg = run_count_mimes(spark, cfg)
        out_dir = args[1] if len(args) > 1 else "mime-reports"
        write_reports(agg, out_dir)
        for r in agg.limit(20).collect():
            print(f"{r['mime']},{r['total']},{r['truncated']},{r['non_truncated']}")
        return 0

    if cmd == "FetchIndices":
        from commoncrawl_fetcher_lite_spark.sources.cdx import (
            index_paths_for_config,
        )
        from commoncrawl_fetcher_lite_spark.sources.mirror import mirror_indices

        paths = index_paths_for_config(cfg)
        dest = args[1] if len(args) > 1 else "mirrored-indexes"
        manifest = mirror_indices(spark, paths, dest)
        print(f"mirrored {sum(not m['skipped'] for m in manifest)} files "
              f"({sum(m['skipped'] for m in manifest)} skipped) to {dest}")
        return 0

    # Fetch
    from commoncrawl_fetcher_lite_spark.plans.fetch_pipeline import run_fetch

    res = run_fetch(spark, cfg)
    if cfg.dry_run:
        n = res.would_extract.count()
        print(f"dry run: would extract {n} records; "
              f"{res.truncated_logged.count()} truncated logged")
    else:
        print(f"extracted {res.extracted.count()} payloads; "
              f"{res.truncated_logged.count()} truncated logged")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
