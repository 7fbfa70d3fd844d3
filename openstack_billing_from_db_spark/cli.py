"""CLI entry point (reference main.py:34-219 re-expressed).

``python -m openstack_billing_from_db_spark.cli --start ... --end ...``

Differences from the reference, by design:
- a mysqldump is converted to parquet, not loaded into SQLite
  (``--sql-dump-file``; sources/mysqldump.py); without one, the invoice
  reads the driver testdata parquet under ``--data-dir``;
- rates come from CLI flags or the built-in example card (the
  reference's nerc-rates HTTP fetch is environment-specific);
- the computation is the Spark DAG in plans/billing.py.
"""

from __future__ import annotations

import argparse
from datetime import datetime, timedelta
from decimal import Decimal


def parse_time_argument(arg: str) -> datetime:
    """ISO-8601 parse (reference utils.py:4-5)."""
    return datetime.fromisoformat(arg)


def default_start_argument() -> datetime:
    """First day of the month containing (today − 1 day), midnight
    (reference main.py:21-26)."""
    d = (datetime.today() - timedelta(days=1)).replace(day=1)
    return d.replace(hour=0, minute=0, second=0, microsecond=0)


def default_end_argument() -> datetime:
    """Today at midnight (reference main.py:28-30)."""
    return datetime.today().replace(hour=0, minute=0, second=0, microsecond=0)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m openstack_billing_from_db_spark.cli",
        description="PySpark-native invoicing from an instance event log",
    )
    p.add_argument("--start", type=parse_time_argument, default=default_start_argument())
    p.add_argument("--end", type=parse_time_argument, default=default_end_argument())
    p.add_argument("--invoice-month", default=None, help="e.g. 2024-01")
    p.add_argument("--data-dir", default="/root/testdata/sf0.001")
    p.add_argument("--output", "--output-file", dest="output", default="invoices.csv")
    p.add_argument("--rates-url", default=None, help="override the nerc-rates repo URL")
    p.add_argument("--include-stopped-runtime", action="store_true", default=False)
    for su in ("cpu", "gpu-a100", "gpu-a100sxm4", "gpu-v100", "gpu-k80", "gpu-a2"):
        p.add_argument(f"--rate-{su}-su", type=Decimal, default=None)
    p.add_argument("--upload-to-s3", action="store_true", default=False)
    # BooleanOptionalAction adds --no-upload-to-primary-location; the
    # reference's own `type=bool` flag (main.py:136-139) can never be
    # turned off from the command line — fixed here, not reproduced
    p.add_argument(
        "--upload-to-primary-location",
        action=argparse.BooleanOptionalAction,
        default=True,
    )
    # the reference's dump ingest (main.py:66-95): our engine converts the
    # dump to parquet instead of SQLite (sources/mysqldump.py), so
    # --convert-sql-dump-file-to-sqlite is accepted and implied whenever a
    # dump file is the source
    p.add_argument("--sql-dump-file", default=None)
    p.add_argument("--convert-sql-dump-file-to-sqlite", action="store_true", default=False)
    p.add_argument("--download-sql-dump-from-s3", action="store_true", default=False)
    p.add_argument("--use-nerc-rates", action="store_true", default=False)
    return p


def main(argv: list[str] | None = None) -> str:
    from openstack_billing_from_db_spark.operators.sessionize import (
        DEFAULT_TRIGGER_STATES,
    )
    from openstack_billing_from_db_spark.plans.billing import (
        TESTDATA_TRIGGERS,
        invoice_csv_rows,
        nova_invoice,
        testdata_billing_tables,
    )
    from openstack_billing_from_db_spark.session import get_spark
    from openstack_billing_from_db_spark.sinks.csv import write_single_csv
    from openstack_billing_from_db_spark.sources.rates import (
        DEFAULT_RATE_CARD,
        rates_df,
    )

    args = build_parser().parse_args(argv)
    invoice_month = args.invoice_month or args.start.strftime("%Y-%m")

    include_stopped = args.include_stopped_runtime
    if args.use_nerc_rates:
        # reference main.py:174-192: rates AND the stopped-instances
        # policy come from the nerc-rates repo, not CLI flags
        from openstack_billing_from_db_spark.sources.rates import (
            DEFAULT_RATES_URL,
            fetch_rate_card,
        )

        card, include_stopped = fetch_rate_card(
            invoice_month, url=args.rates_url or DEFAULT_RATES_URL
        )
    else:
        card = []
        for su_type, su_name, default_rate in DEFAULT_RATE_CARD:
            flag = f"rate_{su_type}_su".replace("-", "_")
            override = getattr(args, flag, None)
            card.append(
                (
                    su_type,
                    su_name,
                    Decimal(default_rate if override is None else override),
                )
            )

    dump_file = args.sql_dump_file
    if args.download_sql_dump_from_s3:
        from openstack_billing_from_db_spark.sources.fetch import (
            download_latest_dump_from_s3,
        )

        dump_file = download_latest_dump_from_s3()

    spark = get_spark(app_name="invoicing-cli")
    rates = rates_df(spark, card)
    if dump_file:
        # reference main.py:163-172 dump path; dump → parquet → Nova-shaped
        # billing inputs (conversion replaces mysql2sqlite, fetch.py:98-124)
        from openstack_billing_from_db_spark.plans.billing import nova_instance_dim
        from openstack_billing_from_db_spark.sources.mysqldump import (
            nova_tables_from_dump,
        )

        # the converted files live in a temporary directory that is
        # removed once these DataFrames are garbage (here: when main returns)
        instances, instance_extra, instance_actions = nova_tables_from_dump(
            spark, dump_file
        )
        dim = nova_instance_dim(instances, instance_extra, args.start)
        actions = instance_actions.select(
            "instance_uuid", "created_at", "action", "message"
        )
        trigger_states, message_col = DEFAULT_TRIGGER_STATES, "message"
    else:
        actions, dim = testdata_billing_tables(spark, args.data_dir)
        trigger_states, message_col = TESTDATA_TRIGGERS, None
    invoice = nova_invoice(
        actions,
        dim,
        rates,
        args.start,
        args.end,
        include_stopped_runtime=include_stopped,
        trigger_states=trigger_states,
        message_col=message_col,
    )
    from datetime import timezone

    generated_at = datetime.now(timezone.utc).isoformat(timespec="seconds")
    csv_rows = invoice_csv_rows(
        invoice,
        rates,
        invoice_month=invoice_month,
        window_start=args.start,
        window_end=args.end,
        generated_at=generated_at,
    )
    out = write_single_csv(csv_rows, args.output)
    if args.upload_to_s3:
        from openstack_billing_from_db_spark.sinks.csv import upload_invoice_to_s3

        upload_invoice_to_s3(
            out,
            invoice_month,
            args.end,
            upload_to_primary_location=args.upload_to_primary_location,
        )
    return out


if __name__ == "__main__":
    print(main())
