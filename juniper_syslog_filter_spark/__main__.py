"""CLI — the rebuild's counterpart to the reference entry points
(run.py:42-433, run_with_args.py:33-414; same two knobs: --keyword,
--severity). Packaged for ``spark-submit --py-files jsf_spark.zip``:

    spark-submit --py-files jsf_spark.zip -m juniper_syslog_filter_spark ...
    # or locally:
    python -m juniper_syslog_filter_spark gen --rows 100000 --out /tmp/pages
    python -m juniper_syslog_filter_spark run --pages /tmp/pages \
        --out /tmp/out --keyword RT_IDP_ATTACK --severity CRITICAL
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from . import SEVERITY_NAMES


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="juniper_syslog_filter_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen", help="generate a synthetic pages table (deterministic)")
    g.add_argument("--rows", type=int, required=True)
    g.add_argument("--out", required=True)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--threat-ratio", type=float, default=0.1)
    g.add_argument("--partitions", type=int, default=None)

    r = sub.add_parser("run", help="parse → enrich → route → aggregate")
    r.add_argument("--pages", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--keyword", default=None, help="case-sensitive Message substring filter")
    r.add_argument(
        "--severity",
        default=None,
        choices=SEVERITY_NAMES,
        help="route only this severity (reference Phase 10)",
    )
    r.add_argument("--full", action="store_true", help="ignore checkpoint; reprocess everything")

    from .stages import STAGES

    s = sub.add_parser(
        "stage",
        help="run ONE reference module standalone over a CSV stage dir "
        "(per-module main() parity, e.g. modules/extract_routing.py:131-167)",
    )
    s.add_argument("name", choices=sorted(STAGES))
    s.add_argument("--in", dest="input", required=True, help="input stage dir (header CSV)")
    s.add_argument("--out", required=True, help="output stage dir (header CSV, ''-for-null)")
    s.add_argument("--keyword", default="RT_IDP_ATTACK")
    s.add_argument("--severity", default="CRITICAL")
    s.add_argument("--keep", default="0,1,2,6", help="reduce-columns positional keep list")

    z = sub.add_parser("extract", help="S1/S2: ZIP-of-CSVs dir → CSV stage dir")
    z.add_argument("--in", dest="input", required=True, help="dir of *.zip")
    z.add_argument("--out", required=True)

    x = sub.add_parser("export-xlsx", help="S4: final stage dir → styled xlsx chunks")
    x.add_argument("--in", dest="input", required=True)
    x.add_argument("--out", required=True)

    args = p.parse_args(argv)

    from .session import build_session

    spark = build_session(app_name=f"jsf-{args.cmd}")
    t0 = time.time()
    if args.cmd == "gen":
        from .datagen import write_pages

        write_pages(
            spark,
            args.out,
            args.rows,
            seed=args.seed,
            threat_ratio=args.threat_ratio,
            num_partitions=args.partitions,
        )
        print(json.dumps({"cmd": "gen", "rows": args.rows, "out": args.out, "sec": round(time.time() - t0, 2)}))
    elif args.cmd == "stage":
        from .sinks import write_stage_csv
        from .sources.csv_source import read_stage_csv

        df = read_stage_csv(spark, args.input)
        fn = STAGES[args.name]
        kwargs = {}
        if args.name == "filter-keyword":
            kwargs["keyword"] = args.keyword
        elif args.name == "filter-severity":
            kwargs["severity"] = args.severity
        elif args.name == "reduce-columns":
            kwargs["keep"] = args.keep
        out = fn(df, **kwargs)
        write_stage_csv(out, args.out)
        print(json.dumps({"cmd": "stage", "stage": args.name, "out": args.out,
                          "sec": round(time.time() - t0, 2)}))
    elif args.cmd == "extract":
        from .sinks import write_stage_csv
        from .sources.zip_source import extract_zip_csvs

        out = extract_zip_csvs(spark, args.input)
        write_stage_csv(out.filter(out["_error"] == "").drop("src_zip", "src_member", "_error"), args.out)
        print(json.dumps({"cmd": "extract", "out": args.out, "sec": round(time.time() - t0, 2)}))
    elif args.cmd == "export-xlsx":
        from .sinks import export_xlsx
        from .sources.csv_source import read_stage_csv

        written = export_xlsx(read_stage_csv(spark, args.input), args.out)
        print(json.dumps({"cmd": "export-xlsx", "files": written, "sec": round(time.time() - t0, 2)}))
    else:
        from .pipeline import run_pipeline

        res = run_pipeline(
            spark,
            args.pages,
            args.out,
            keyword=args.keyword,
            severity_filter=args.severity,
            incremental=not args.full,
        )
        print(
            json.dumps(
                {
                    "cmd": "run",
                    "batch": res.batch_id,
                    "units": res.units_processed,
                    "rows_routed": res.rows_routed,
                    "routed": res.routed_path,
                    "agg": res.agg_path,
                    "sec": round(time.time() - t0, 2),
                }
            )
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
