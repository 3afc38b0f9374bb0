"""Command-line entry points — the Migrator.main / Validator.main analog
(Migrator.scala:14-44, Validator.scala:40-105):

    python -m scylla_migrator_spark migrate  config.yaml
    python -m scylla_migrator_spark validate config.yaml
    python -m scylla_migrator_spark compact  /path/to/dataset [target_file_mb]
    python -m scylla_migrator_spark curate   curation.yaml
    python -m scylla_migrator_spark expect   expectations.yaml

Exit codes: 0 on success; validate exits non-zero when any failure category
is non-empty (Validator.scala:67-104); expect exits 1 when any declared
expectation fails (the JSON report is printed either way). The rendered (secret-redacted) config
is logged before execution (MigratorConfig.scala:134-153 posture).
``compact`` is the maintenance entry point for accreted small files
(sinks/parquet.py::compact_parquet). ``migrate`` with savepoints, and then
``validate``'s repair and ``compact``, commit the target through
``pathio.commit``: a crash leaves the old or the new generation readable;
one writer per table at a time.
"""

from __future__ import annotations

import json
import sys


def main(argv: list[str] | None = None) -> int:
    argv = argv if argv is not None else sys.argv[1:]
    if (
        len(argv) < 2
        or argv[0] not in {"migrate", "validate", "compact", "curate", "expect"}
        or (argv[0] != "compact" and len(argv) != 2)
        or (argv[0] == "compact" and len(argv) > 3)
    ):
        print(__doc__, file=sys.stderr)
        return 2
    if argv[0] == "expect":
        from scylla_migrator_spark.plans.expect import (
            ExpectationsConfig,
            run_expectations,
        )
        from scylla_migrator_spark.session import get_spark

        ecfg = ExpectationsConfig.load(argv[1])
        spark = get_spark("scylla-migrator-spark-expect")
        try:
            report = run_expectations(spark, ecfg)
            print(json.dumps(report))
            return 0 if report["passed"] else 1
        finally:
            spark.stop()
    if argv[0] == "curate":
        from scylla_migrator_spark.plans.curate import CurationConfig, run_curation
        from scylla_migrator_spark.session import get_spark

        ccfg = CurationConfig.load(argv[1])
        spark = get_spark("scylla-migrator-spark-curate")
        try:
            print(json.dumps({"stage_counts": run_curation(spark, ccfg)}))
            return 0
        finally:
            spark.stop()
    if argv[0] == "compact":
        from scylla_migrator_spark.session import get_spark
        from scylla_migrator_spark.sinks.parquet import compact_parquet

        target_mb = int(argv[2]) if len(argv) == 3 else 256
        spark = get_spark("scylla-migrator-spark-compact")
        try:
            stats = compact_parquet(
                spark, argv[1], target_file_bytes=target_mb * 1024 * 1024
            )
            print(json.dumps(stats))
            return 0
        finally:
            spark.stop()
    command, config_path = argv

    from scylla_migrator_spark.config import MigratorConfig
    from scylla_migrator_spark.session import get_spark

    config = MigratorConfig.load(config_path)
    print(json.dumps({"config": config.rendered()}, default=str), file=sys.stderr)
    spark = get_spark(f"scylla-migrator-spark-{command}")
    try:
        if command == "migrate":
            from scylla_migrator_spark.plans.migrate import migrate, migrate_resumable

            # a savepoints.path on a file-based batch source selects the
            # resumable chunked loop (periodic + terminal savepoints, restart
            # resumes with zero re-work) — the reference's default posture
            resumable = (
                config.savepoints is not None
                and config.savepoints.path is not None
                and config.source.type in ("parquet", "cql-fixture")
                and config.target.type == "parquet"
                # the chunked loop appends; only overwrite-mode configs have
                # identical semantics, and raw writer options are not
                # replayed per chunk — fall back to migrate() for those
                and config.target.mode == "overwrite"
                and not config.target.options
            )
            out = (
                migrate_resumable(spark, config) if resumable else migrate(spark, config)
            )
            print(json.dumps({"migrated_rows": out.count(), "resumable": resumable}))
            return 0
        from scylla_migrator_spark.plans.validate import run_validation

        report = run_validation(spark, config)
        print(
            json.dumps(
                {
                    "counts_by_kind": report.counts_by_kind,
                    "schema_failures": report.schema_failures,
                    "type_mismatch_columns": report.type_mismatch_columns,
                    "repaired_rows": report.repaired_rows,
                    "exit_code": report.exit_code,
                }
            )
        )
        return report.exit_code
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
