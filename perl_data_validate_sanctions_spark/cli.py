"""spark-submit entry point (the reference's CLI analog,
/root/reference/bin/update_sanctions_csv).

    spark-submit --py-files pdvs.zip -m perl_data_validate_sanctions_spark.cli \\
        validate --input /path/images.parquet --checkpoint /path/ckpt \\
                 --run-id nightly-42
    python -m perl_data_validate_sanctions_spark.cli synth --rows 100000 --out ...
    python -m perl_data_validate_sanctions_spark.cli validate --synth-rows 50000

Subcommands: ``synth`` (generate the image+caption table), ``validate``
(full check suite with checkpointed resume; rerunning the same
--run-id skips completed partitions), ``export`` (dump violations).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="pdvs-spark")
    p.add_argument("--cores", default=None, help="local[N] cores (default env)")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_synth = sub.add_parser("synth", help="generate the synthetic images table")
    p_synth.add_argument("--rows", type=int, required=True)
    p_synth.add_argument("--out", required=True)
    p_synth.add_argument("--partitions", type=int, default=None)

    p_upd = sub.add_parser(
        "update",
        help="fetch/parse sanction feeds and merge into the snapshot "
             "(the reference's bin/update_sanctions_csv)",
    )
    p_upd.add_argument(
        "--feed", action="append", default=[], metavar="SOURCE=PATH",
        help="e.g. --feed OFAC-SDN=/data/sdn.xml or "
             "--feed HMT-Sanctions=https://host/feed.csv (repeatable; "
             "http(s) feeds go through the retry/redirect/token-scrub "
             "fetch path; sources: OFAC-SDN OFAC-Consolidated "
             "HMT-Sanctions EU-Sanctions UNSC-Sanctions MOHA-Sanctions)",
    )
    p_upd.add_argument("--snapshot", required=True,
                       help="entries snapshot parquet path (published "
                            "atomically; per-source state kept beside it)")

    p_val = sub.add_parser("validate", help="run the full validation suite")
    p_val.add_argument("--input", help="parquet path of the images table")
    p_val.add_argument("--synth-rows", type=int, help="or generate N rows")
    p_val.add_argument("--checkpoint", help="checkpoint dir (enables resume)")
    p_val.add_argument("--run-id", default=None)
    p_val.add_argument("--violations-out", help="write violation rows here")
    p_val.add_argument(
        "--sink-dir",
        help="write violations/partition_verdicts/check_summary parquet "
             "tables under this dir instead of collecting to the driver "
             "(the production shape at scale; reference analog: "
             "bin/update_sanctions_csv writes a file, not stdout)",
    )
    p_val.add_argument(
        "--extra-checks", default=None,
        help="comma-separated opt-in checks appended to the default "
             "suite (currently: drift_psi_fmt — PSI on the format mix, "
             "fed from the same cube scan as the default drift "
             "branches, so it adds no table scan)",
    )
    p_val.add_argument(
        "--match-strategy", choices=("auto", "native", "arrow"),
        default="auto",
        help="caption-match path (auto: the SCALING.md crossover rule — "
             "arrow while the dimension fits the worker-local index "
             "budget, native beyond it; arrow: zero-shuffle pandas-UDF "
             "screen, measured fastest at every in-budget size; native: "
             "pure-JVM Catalyst path for Python-worker-scarce clusters)",
    )

    args = p.parse_args(argv)

    from .session import get_spark, local_frame

    spark = get_spark(app_name=f"pdvs-{args.cmd}", cores=args.cores)

    if args.cmd == "synth":
        from .sources.synth import synth_images

        synth_images(spark, args.rows, num_partitions=args.partitions).write.mode(
            "overwrite"
        ).parquet(args.out)
        print(json.dumps({"written": args.out, "rows": args.rows}))
        return 0

    if args.cmd == "update":
        import os

        from .api import SanctionsValidator
        from .sources.parsers import fetch_sources

        feeds = {}
        for spec in args.feed:
            source, _, path = spec.partition("=")
            if not path:
                p.error(f"--feed needs SOURCE=PATH, got {spec!r}")
            feeds[source] = path
        from .schema import ENTRY_SCHEMA

        fetched, updated_by_source, errors = fetch_sources(spark, feeds)
        v = SanctionsValidator(spark, sanction_path=args.snapshot)
        if not os.path.exists(args.snapshot):
            if fetched is None:
                print(json.dumps({"error": "no feed parsed and no "
                                           "existing snapshot",
                                  "feeds": errors}))
                return 1
            # a fresh snapshot starts EMPTY (never from the bundled
            # fallback dataset — that's for read paths only)
            v._entries = local_frame(spark, [], ENTRY_SCHEMA)
        if fetched is None:
            fetched = local_frame(spark, [], ENTRY_SCHEMA)
        decisions = v.update_data(
            fetched,
            updated_by_source=updated_by_source,
            errors_by_source=errors or None,
        )
        out = {
            "snapshot": args.snapshot,
            "n_entries": v.data().count(),
            "last_updated": v.last_updated(),
            "sources": {
                r["source"]: {
                    "updated": r["updated"],
                    "n_entries": r["n_entries"],
                    "changed": bool(r["changed"]),
                    "error": r["error"],
                }
                for r in decisions.collect()
            },
        }
        print(json.dumps(out))
        return 0

    if args.cmd == "validate":
        from .sources.synth import PLACES, synth_entries, synth_images

        if args.input:
            images = spark.read.parquet(args.input)
        elif args.synth_rows:
            images = synth_images(spark, args.synth_rows)
        else:
            p.error("validate needs --input or --synth-rows")
        entries = synth_entries(spark)
        ref_keys = local_frame(spark, [(x,) for x in PLACES], "key string")

        if args.checkpoint and args.sink_dir:
            p.error("--sink-dir applies to the plain validate path; "
                    "checkpointed runs already persist per-partition "
                    "lineage under --checkpoint")
        from .plans.runner import DEFAULT_CHECKS

        checks = DEFAULT_CHECKS
        if args.extra_checks:
            checks = checks + tuple(
                c.strip() for c in args.extra_checks.split(",")
                if c.strip()
            )
        if args.checkpoint:
            from .streaming.checkpoint import CheckpointStore, run_with_resume

            store = CheckpointStore(args.checkpoint)
            run_id, lineage, report = run_with_resume(
                images,
                store,
                run_id=args.run_id,
                entries=entries,
                ref_keys=ref_keys,
                checks=checks,
                match_strategy=args.match_strategy,
            )
            rows = lineage.orderBy("partition_id").collect()
            out = {
                "run_id": run_id,
                "partitions": len(rows),
                "recomputed": (
                    report.partition_verdicts.count() if report else 0
                ),
                "n_rows": sum(r["n_rows"] for r in rows),
                "n_fail": sum(r["n_fail"] for r in rows),
            }
        else:
            from .plans.runner import run_validation

            report = run_validation(
                images,
                entries=entries,
                ref_keys=ref_keys,
                checks=checks,
                match_strategy=args.match_strategy,
                sink_dir=args.sink_dir,
            )
            verd = report.partition_verdicts.collect()
            summary = {
                r["check"]: r["n_violations"]
                for r in report.check_summary.collect()
            }
            out = {
                "partitions": len(verd),
                "n_rows": sum(r["n_rows"] for r in verd),
                "n_pass_rows": sum(r["n_pass_rows"] for r in verd),
                "failed_partitions": sorted(
                    r["partition_id"] for r in verd if not r["passed"]
                ),
                "violations_by_check": summary,
            }
            if args.sink_dir:
                out["sink_dir"] = args.sink_dir
        if args.violations_out and report is not None:
            report.violations.write.mode("overwrite").parquet(
                args.violations_out
            )
            out["violations_out"] = args.violations_out
        print(json.dumps(out))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
