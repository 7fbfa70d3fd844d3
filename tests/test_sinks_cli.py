"""CSV sink dialect parity (reference billing.py:159-224) and CLI."""

from __future__ import annotations

import csv
import os
from datetime import datetime

from openstack_billing_from_db_spark.sinks.csv import invoice_s3_keys, write_single_csv

EXPECTED_HEADER = [
    "Invoice Month",
    "Report Start Time",
    "Report End Time",
    "Project - Allocation",
    "Project - Allocation ID",
    "Manager (PI)",
    "Cluster Name",
    "Invoice Email",
    "Invoice Address",
    "Institution",
    "Institution - Specific Code",
    "SU Hours (GBhr or SUhr)",
    "SU Type",
    "Rate",
    "Cost",
    "Generated At",
]


def test_invoice_csv_header_and_dialect(spark, sf_dir, tmp_path):
    from openstack_billing_from_db_spark.plans.billing import (
        TESTDATA_WINDOW,
        invoice_csv_rows,
        testdata_invoice,
    )
    from openstack_billing_from_db_spark.sources.rates import rates_df

    inv = testdata_invoice(spark, sf_dir)
    rows_df = invoice_csv_rows(
        inv,
        rates_df(spark),
        invoice_month="2024-01",
        window_start=TESTDATA_WINDOW[0],
        window_end=TESTDATA_WINDOW[1],
        generated_at="2024-02-01T00:00:00+00:00",
    )
    out = str(tmp_path / "invoice.csv")
    write_single_csv(rows_df, out)

    with open(out, newline="") as f:
        reader = csv.reader(f, delimiter=",", quotechar="|")
        rows = list(reader)
    assert rows[0] == EXPECTED_HEADER
    assert len(rows) > 1
    # window bounds are UTC-stamped ISO strings (reference billing.py:133-134)
    assert rows[1][1] == "2024-01-01T00:00:00+00:00"
    assert rows[1][2] == "2024-02-01T00:00:00+00:00"
    assert rows[1][6] == "stack"
    assert rows[1][10] == "N/A"


def test_invoice_csv_aware_bounds_stamped_in_utc(spark):
    """An aware window bound is converted to UTC, not relabelled: the
    invoice bills ``--start 2024-03-01T00:00:00-05:00`` from 05:00 UTC,
    so that is the Report Start Time. Naive bounds mean UTC."""
    from datetime import timedelta, timezone

    from openstack_billing_from_db_spark.plans.billing import invoice_csv_rows
    from openstack_billing_from_db_spark.sources.rates import rates_df

    invoice = spark.createDataFrame(
        [("p1", "cpu", 10, 0.013, 0.13)],
        "project_id string, su_type string, su_hours long, rate double, cost double",
    )
    (row,) = invoice_csv_rows(
        invoice,
        rates_df(spark),
        invoice_month="2024-03",
        window_start=datetime(2024, 3, 1, tzinfo=timezone(timedelta(hours=-5))),
        window_end=datetime(2024, 4, 1),
        generated_at="2024-04-01T00:00:00+00:00",
    ).collect()
    assert row["Report Start Time"] == "2024-03-01T05:00:00+00:00"
    assert row["Report End Time"] == "2024-04-01T00:00:00+00:00"


def test_s3_key_templates():
    keys = invoice_s3_keys(
        "2024-01",
        datetime(2024, 2, 1),
        now=datetime(2024, 2, 1, 7, 30, 9),
    )
    # daily key uses end−1s inclusive date (reference billing.py:277-278)
    assert keys["primary"] == "Invoices/2024-01/Service Invoices/NERC OpenStack 2024-01.csv"
    assert keys["daily"] == "Invoices/2024-01/Service Invoices/NERC OpenStack 2024-01-31.csv"
    assert keys["archive"] == "Invoices/2024-01/Archive/NERC OpenStack 2024-01 20240201T073009Z.csv"


def test_cli_end_to_end(sf_dir, tmp_path, spark):
    from openstack_billing_from_db_spark.cli import main

    out = str(tmp_path / "cli_invoice.csv")
    result = main(
        [
            "--start",
            "2024-01-01T00:00:00",
            "--end",
            "2024-02-01T00:00:00",
            "--data-dir",
            sf_dir,
            "--output",
            out,
            "--include-stopped-runtime",
        ]
    )
    assert result == out and os.path.exists(out)
    with open(out, newline="") as f:
        rows = list(csv.reader(f, delimiter=",", quotechar="|"))
    assert rows[0] == EXPECTED_HEADER and len(rows) > 1


def test_cli_window_defaults():
    from openstack_billing_from_db_spark.cli import (
        default_end_argument,
        default_start_argument,
    )

    start, end = default_start_argument(), default_end_argument()
    assert start.day == 1 and start.hour == 0 and start <= end


def test_cli_rate_override(sf_dir, tmp_path, spark):
    """--rate-*-su flags override the built-in card (reference
    main.py:95-121)."""
    from openstack_billing_from_db_spark.cli import main

    out = str(tmp_path / "rate_override.csv")
    main(
        [
            "--start", "2024-01-01T00:00:00",
            "--end", "2024-02-01T00:00:00",
            "--data-dir", sf_dir,
            "--output", out,
            "--rate-cpu-su", "1.000",
            "--include-stopped-runtime",
        ]
    )
    with open(out, newline="") as f:
        rows = list(csv.reader(f, delimiter=",", quotechar="|"))
    cpu_rows = [r for r in rows[1:] if r[12] == "OpenStack CPU"]
    assert cpu_rows and all(r[13] == "1.0" for r in cpu_rows)
    # cost = hours × 1.0
    for r in cpu_rows:
        assert float(r[14]) == float(r[11])


def test_cli_missing_dump_file_raises(sf_dir):
    """The dump path is implemented now (sources/mysqldump.py); a missing
    file must fail fast with the OS error, not a silent fallback to the
    parquet testdata path."""
    import pytest as _pytest

    from openstack_billing_from_db_spark.cli import main

    with _pytest.raises(FileNotFoundError):
        main(["--sql-dump-file", "/nonexistent/nova.sql", "--data-dir", sf_dir])


# --- corpus/maintenance CLI ---------------------------------------------------


def test_corpus_cli_stats_and_zorder(spark, sf_dir, tmp_path, capsys):
    import json

    from openstack_billing_from_db_spark import corpus_cli

    res = corpus_cli.main(
        ["stats", "--path", f"{sf_dir}/events.parquet"], spark=spark
    )
    assert res["columns"]["event_id"]["n_nulls"] == 0
    # stdout carries one parseable JSON line
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(line)["command"] == "stats"

    out = str(tmp_path / "ev_z")
    res = corpus_cli.main(
        [
            "zorder",
            "--path",
            f"{sf_dir}/events.parquet",
            "--cols",
            "user_id,event_id",
            "--output",
            out,
            "--num-files",
            "4",
        ],
        spark=spark,
    )
    assert res["rows"] == spark.read.parquet(f"{sf_dir}/events.parquet").count()


def test_corpus_cli_delete_roundtrip(spark, sf_dir, tmp_path):
    from openstack_billing_from_db_spark import corpus_cli

    p = str(tmp_path / "ev_cli_del")
    spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(p)
    res = corpus_cli.main(
        ["delete", "--path", p, "--predicate", "user_id % 5 = 0"], spark=spark
    )
    assert res["rows_deleted"] > 0
    assert spark.read.parquet(p).filter("user_id % 5 = 0").count() == 0


def test_corpus_cli_prepare(spark, sf_dir, tmp_path):
    from openstack_billing_from_db_spark import corpus_cli

    out = str(tmp_path / "corpus_out")
    res = corpus_cli.main(
        ["prepare", "--data-dir", sf_dir, "--output", out], spark=spark
    )
    assert res["rows"] > 0
    back = spark.read.parquet(out)
    assert back.count() == res["rows"]


def test_corpus_cli_prepare_dry_run(spark, sf_dir, tmp_path):
    """--dry-run reports stage-by-stage survivor counts (df.observe on
    the one materializing action) and writes nothing. The stage chain
    can only shrink, and the final count must equal what a real run
    produces (VERDICT r5 Next #8)."""
    from openstack_billing_from_db_spark import corpus_cli

    res = corpus_cli.main(
        ["prepare", "--data-dir", sf_dir, "--dry-run"], spark=spark
    )
    st = res["stages"]
    assert res["output"] is None
    assert (
        st["input"]
        >= st["quality_kept"]
        >= st["exact_canon"]
        >= st["near_deduped"]
        > 0
    )
    out = str(tmp_path / "corpus_dry_check")
    real = corpus_cli.main(
        ["prepare", "--data-dir", sf_dir, "--output", out], spark=spark
    )
    assert real["rows"] == st["near_deduped"]


def test_corpus_cli_dedup_methods(spark, sf_dir, tmp_path):
    from openstack_billing_from_db_spark import corpus_cli

    out1 = str(tmp_path / "pairs_setsim")
    res = corpus_cli.main(
        [
            "dedup",
            "--path",
            f"{sf_dir}/documents.parquet",
            "--method",
            "setsim",
            "--threshold",
            "0.6",
            "--output",
            out1,
        ],
        spark=spark,
    )
    assert res["method"] == "setsim"
    back = spark.read.parquet(out1)
    assert set(back.columns) == {"doc_a", "doc_b", "jaccard"}
    assert back.count() == res["rows"]
    assert back.filter("jaccard < 0.6").count() == 0

    out2 = str(tmp_path / "pairs_edit")
    res2 = corpus_cli.main(
        [
            "dedup",
            "--path",
            f"{sf_dir}/documents.parquet",
            "--method",
            "editdist",
            "--output",
            out2,
        ],
        spark=spark,
    )
    assert res2["method"] == "editdist"
    assert set(spark.read.parquet(out2).columns) == {
        "doc_a",
        "doc_b",
        "edit_distance",
    }

    # simhash fingerprints the raw (doc_id, text) corpus before the join
    out3 = str(tmp_path / "pairs_simhash")
    res3 = corpus_cli.main(
        [
            "dedup",
            "--path",
            f"{sf_dir}/documents.parquet",
            "--method",
            "simhash",
            "--output",
            out3,
        ],
        spark=spark,
    )
    assert res3["method"] == "simhash"
    back3 = spark.read.parquet(out3)
    assert set(back3.columns) == {"doc_a", "doc_b", "hamming"}
    assert back3.count() == res3["rows"]
    assert back3.filter("hamming > 4").count() == 0


def test_corpus_cli_dedup_exact_emits_pairs(spark, sf_dir, tmp_path):
    from openstack_billing_from_db_spark import corpus_cli

    out = str(tmp_path / "pairs_exact")
    res = corpus_cli.main(
        [
            "dedup",
            "--path",
            f"{sf_dir}/documents.parquet",
            "--method",
            "exact",
            "--output",
            out,
        ],
        spark=spark,
    )
    back = spark.read.parquet(out)
    # true member pairs, not group summaries
    assert set(back.columns) == {"doc_a", "doc_b", "content_hash"}
    assert back.count() == res["rows"]
    assert back.filter("doc_a >= doc_b").count() == 0


def test_corpus_cli_epoch_qa_and_ci(spark, sf_dir, tmp_path):
    """The round-6 estimation subcommands: epoch (DoReMi-weighted
    admission), qa-alloc (Neyman), quality-ci (bootstrap) — each one
    JSON summary consistent with the underlying operators."""
    from openstack_billing_from_db_spark import corpus_cli

    docs = f"{sf_dir}/documents.parquet"
    out = str(tmp_path / "epoch0")
    res = corpus_cli.main(
        ["epoch", "--path", docs, "--total-tokens", "40000",
         "--output", out],
        spark=spark,
    )
    assert res["command"] == "epoch" and res["sources"]
    for s, row in res["sources"].items():
        assert row["tokens_kept"] <= row["budget_tokens"]
    written = spark.read.parquet(out)
    assert written.count() == sum(r["n_docs"] for r in res["sources"].values())

    res = corpus_cli.main(
        ["qa-alloc", "--path", docs, "--budget", "500"], spark=spark
    )
    allocs = res["strata"]
    assert sum(r["alloc_neyman"] for r in allocs.values()) <= 500
    assert sum(r["alloc_prop"] for r in allocs.values()) <= 500
    assert any(r["alloc_neyman"] > 0 for r in allocs.values())

    res = corpus_cli.main(
        ["quality-ci", "--path", docs, "--replicas", "16"], spark=spark
    )
    assert res["n_replicas"] == 16
    assert res["ci_lo_micro"] <= res["point_mean_micro"] <= res["ci_hi_micro"]


def test_corpus_cli_dedup_phash(spark, sf_dir, tmp_path):
    """`dedup --method phash` runs the corpus-size-tuned perceptual
    pipeline over a (doc_id, payload) parquet and writes verified
    hamming pairs."""
    from openstack_billing_from_db_spark import corpus_cli
    from openstack_billing_from_db_spark.operators import multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    pay_path = str(tmp_path / "payloads")
    multimodal.synthesize_textured_image_payloads(docs).write.mode(
        "overwrite"
    ).parquet(pay_path)

    out = str(tmp_path / "pairs_phash")
    res = corpus_cli.main(
        [
            "dedup",
            "--path",
            pay_path,
            "--method",
            "phash",
            "--output",
            out,
        ],
        spark=spark,
    )
    assert res["method"] == "phash"
    back = spark.read.parquet(out)
    assert set(back.columns) == {"doc_a", "doc_b", "hamming"}
    assert back.count() == res["rows"] > 0
    assert back.filter("hamming > 4").count() == 0
    assert back.filter("doc_a >= doc_b").count() == 0


def test_corpus_cli_pack(spark, sf_dir, tmp_path):
    """pack subcommand: assignment parquet + one JSON summary whose bin
    accounting matches greedy_pack_bins run directly."""
    from pyspark.sql import functions as F

    from openstack_billing_from_db_spark import corpus_cli
    from openstack_billing_from_db_spark.functions.hashing import seeded_hash64
    from openstack_billing_from_db_spark.operators.curation import (
        greedy_pack_bins,
        tune_pack_shards,
    )
    from openstack_billing_from_db_spark.operators.text import words

    out = str(tmp_path / "assigns")
    res = corpus_cli.main(
        [
            "pack",
            "--path", f"{sf_dir}/documents.parquet",
            "--budget", "256",
            "--output", out,
        ],
        spark=spark,
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    shards = tune_pack_shards(n_docs)
    toks = docs.select(
        "doc_id",
        (seeded_hash64(F.col("doc_id").cast("string"), "gpack") % shards).alias(
            "shard"
        ),
        F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
    )
    want = greedy_pack_bins(toks, budget=256)
    n_bins = want.select("shard", "bin").distinct().count()
    assert res["command"] == "pack"
    assert res["n_docs"] == n_docs and res["shards"] == shards
    assert res["n_bins"] == n_bins
    written = spark.read.parquet(out)
    assert written.count() == n_docs
    assert {r.doc_id: r.bin for r in written.collect()} == {
        r.doc_id: r.bin for r in want.collect()
    }


def test_corpus_cli_scenes(spark, tmp_path):
    import numpy as np

    from openstack_billing_from_db_spark import corpus_cli
    from openstack_billing_from_db_spark.functions import media

    def const_frame(v):
        px = np.full((16, 16), v, dtype=np.uint8)
        return np.stack([px, px, px], axis=2)

    clips = {
        1: [const_frame(v) for v in (10, 10, 200, 200)],  # 2 scenes
        2: [const_frame(50) for _ in range(3)],  # 1 scene
    }
    src = str(tmp_path / "clips")
    spark.createDataFrame(
        [(i, bytearray(media.encode_video(fs))) for i, fs in clips.items()],
        "doc_id long, payload binary",
    ).write.parquet(src)
    out = str(tmp_path / "scenes")
    res = corpus_cli.main(
        ["scenes", "--path", src, "--output", out], spark=spark
    )
    assert res["n_videos"] == 2 and res["n_scenes"] == 3
    assert res["n_frames"] == 7
    rows = {
        (r.doc_id, r.scene_idx): (r.start_frame, r.end_frame)
        for r in spark.read.parquet(out).collect()
    }
    assert rows == {(1, 0): (0, 1), (1, 1): (2, 3), (2, 0): (0, 2)}
