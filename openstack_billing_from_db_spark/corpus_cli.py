"""Operational CLI for the corpus/table-maintenance side of the engine
(the billing CLI lives in cli.py, mirroring the reference's entry
point; the reference has no corpus tooling — beyond-reference surface).

    python -m openstack_billing_from_db_spark.corpus_cli prepare \
        --data-dir /root/testdata/sf0.001 --output /tmp/corpus
    python -m openstack_billing_from_db_spark.corpus_cli stats \
        --path /root/testdata/sf0.001/events.parquet
    python -m openstack_billing_from_db_spark.corpus_cli compact --path DIR
    python -m openstack_billing_from_db_spark.corpus_cli delete \
        --path DIR --predicate "user_id % 7 = 0"
    python -m openstack_billing_from_db_spark.corpus_cli zorder \
        --path DIR --cols user_id,ts --output DIR2
    python -m openstack_billing_from_db_spark.corpus_cli dedup \
        --path DOCS.parquet --method setsim --threshold 0.6 --output PAIRS
    python -m openstack_billing_from_db_spark.corpus_cli epoch \
        --path DOCS.parquet --total-tokens 40000 --output EPOCH0
    python -m openstack_billing_from_db_spark.corpus_cli qa-alloc \
        --path DOCS.parquet --budget 1000
    python -m openstack_billing_from_db_spark.corpus_cli quality-ci \
        --path DOCS.parquet --replicas 40
    python -m openstack_billing_from_db_spark.corpus_cli pack \
        --path DOCS.parquet --budget 2048 --output ASSIGNS

Each subcommand prints one JSON summary line on stdout.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def _positive_int(value: str) -> int:
    """argparse type for divisors: 0 would flow into ``doc_id div 0``
    (NULL synth keys → a cryptic Arrow-worker PythonException) and
    negatives silently invert the family structure."""
    n = int(value)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be a positive integer; got {n}")
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="corpus_cli")
    sub = p.add_subparsers(dest="command", required=True)

    prep = sub.add_parser("prepare", help="run the corpus-prep pipeline")
    prep.add_argument("--data-dir", required=True)
    prep.add_argument("--output", default=None)
    prep.add_argument("--min-quality", type=float, default=0.3)
    prep.add_argument("--near-dup-jaccard", type=float, default=0.8)
    prep.add_argument(
        "--image-dedup",
        action="store_true",
        help="add the perceptual image-dedup stage (corpus-size-tuned "
        "hamming banding; drops the higher-id member of each pair)",
    )
    prep.add_argument(
        "--audio-dedup",
        action="store_true",
        help="add the audio perceptual-dedup stage (WAV decode -> "
        "delta-energy hash -> tuned banded hamming; drops the "
        "higher-id member of each pair)",
    )
    prep.add_argument(
        "--audio-synth-div",
        type=_positive_int,
        default=2,
        help="fixture content key divisor for the audio stage "
        "(doc_id // N; gives audio its own duplicate structure — "
        "the registered q146 recipe value)",
    )
    prep.add_argument(
        "--video-dedup",
        action="store_true",
        help="add the video frame-majority dedup stage (RVID index "
        "walk decodes only sampled frames; drops the higher-id member "
        "of each >=2-of-3 frame match)",
    )
    prep.add_argument(
        "--video-synth-div",
        type=_positive_int,
        default=3,
        help="fixture content key divisor for the video stage "
        "(doc_id // N — the registered q146 recipe value)",
    )
    prep.add_argument(
        "--dry-run",
        action="store_true",
        help="run the full pipeline without writing output and report "
        "stage-by-stage survivor counts (rides df.observe on the one "
        "materializing action — no second scan per stage)",
    )

    st = sub.add_parser("stats", help="one-pass column statistics")
    st.add_argument("--path", required=True)

    cp = sub.add_parser("compact", help="small-file compaction")
    cp.add_argument("--path", required=True)
    cp.add_argument("--target-file-mb", type=int, default=128)

    de = sub.add_parser("delete", help="row-level delete (verified swap)")
    de.add_argument("--path", required=True)
    de.add_argument("--predicate", required=True)

    zo = sub.add_parser("zorder", help="z-order clustered rewrite")
    zo.add_argument("--path", required=True)
    zo.add_argument("--cols", required=True, help="comma-separated")
    zo.add_argument("--output", required=True)
    zo.add_argument("--num-files", type=int, default=8)

    dd = sub.add_parser("dedup", help="near-duplicate pair extraction")
    dd.add_argument(
        "--path",
        required=True,
        help="parquet with doc_id,text (phash: doc_id,payload)",
    )
    dd.add_argument(
        "--method",
        choices=["exact", "minhash", "simhash", "setsim", "editdist", "phash"],
        default="minhash",
    )
    dd.add_argument(
        "--max-hamming",
        type=int,
        default=4,
        help="hamming budget (phash)",
    )
    dd.add_argument("--output", required=True, help="pair parquet destination")
    dd.add_argument(
        "--threshold",
        type=float,
        default=0.6,
        help="Jaccard threshold (minhash/setsim)",
    )
    dd.add_argument(
        "--max-distance", type=int, default=8, help="edit distance bound (editdist)"
    )

    ep = sub.add_parser(
        "epoch",
        help="mixture-weighted training epoch (KL -> DoReMi weights -> "
        "per-source token quotas -> seeded-hash admission)",
    )
    ep.add_argument("--path", required=True, help="parquet with doc_id,text,source")
    ep.add_argument("--total-tokens", type=int, required=True)
    ep.add_argument("--seed", default="epoch0")
    ep.add_argument("--eta", type=int, default=100, help="DoReMi step per nat")
    ep.add_argument(
        "--smooth-micro", type=int, default=100_000, help="uniform smoothing mass"
    )
    ep.add_argument(
        "--output", default=None, help="write admitted (source,id,...) parquet"
    )

    qa = sub.add_parser(
        "qa-alloc",
        help="Neyman-optimal labeling-budget allocation over quality scores",
    )
    qa.add_argument("--path", required=True, help="parquet with text,source")
    qa.add_argument("--budget", type=int, required=True, help="rows to label")

    pk = sub.add_parser(
        "pack",
        help="greedy whole-document sequence packing (per-shard "
        "first-fit-sequential; docs never split)",
    )
    pk.add_argument("--path", required=True, help="parquet with doc_id,text")
    pk.add_argument("--budget", type=_positive_int, required=True,
                    help="tokens per training sequence")
    pk.add_argument(
        "--shards", type=_positive_int, default=None,
        help="hash shards (default: tune_pack_shards(corpus size))",
    )
    pk.add_argument("--seed", default="gpack")
    pk.add_argument(
        "--output", default=None,
        help="write (shard, doc_id, n_tokens, bin) assignment parquet",
    )

    ci = sub.add_parser(
        "quality-ci",
        help="Poisson-bootstrap CI for the corpus mean quality score",
    )
    ci.add_argument("--path", required=True, help="parquet with doc_id,text")
    ci.add_argument("--replicas", type=int, default=40)

    sc = sub.add_parser(
        "scenes",
        help="video scene-cut detection (per-scene spans + representative "
        "frames over RVID payloads)",
    )
    sc.add_argument("--path", required=True, help="parquet with doc_id,payload")
    sc.add_argument(
        "--cut-threshold", type=_positive_int, default=8,
        help="mean per-cell gray-level delta that counts as a hard cut "
        "(resolution-independent)",
    )
    sc.add_argument(
        "--output", default=None,
        help="write (doc_id, scene_idx, start/end_frame, n_frames, "
        "rep_frame) parquet",
    )
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> dict:
    args = build_parser().parse_args(argv)
    own_session = spark is None
    if own_session:
        from openstack_billing_from_db_spark.session import get_spark

        spark = get_spark(app_name=f"corpus-cli-{args.command}")
    try:
        if args.command == "prepare":
            from openstack_billing_from_db_spark.operators.caching import (
                release_operator_caches,
            )
            from openstack_billing_from_db_spark.plans.corpus_pipeline import (
                prepare_corpus,
            )

            if args.dry_run:
                obs: dict = {}
                out = prepare_corpus(
                    spark,
                    args.data_dir,
                    None,  # never write on a dry run
                    min_quality=args.min_quality,
                    near_dup_jaccard=args.near_dup_jaccard,
                    image_dedup=args.image_dedup,
                    audio_dedup=args.audio_dedup,
                    audio_synth_id_div=args.audio_synth_div,
                    video_dedup=args.video_dedup,
                    video_synth_id_div=args.video_synth_div,
                    observations=obs,
                )
                # one action drives the whole pipeline; every stage
                # count accumulates during this pass
                out.write.mode("overwrite").format("noop").save()
                result = {
                    "command": "prepare",
                    "dry_run": True,
                    "stages": {s: int(obs[s].get["n"]) for s in obs},
                    "output": None,
                }
            else:
                out = prepare_corpus(
                    spark,
                    args.data_dir,
                    args.output,
                    min_quality=args.min_quality,
                    near_dup_jaccard=args.near_dup_jaccard,
                    image_dedup=args.image_dedup,
                    audio_dedup=args.audio_dedup,
                    audio_synth_id_div=args.audio_synth_div,
                    video_dedup=args.video_dedup,
                    video_synth_id_div=args.video_synth_div,
                )
                result = {
                    "command": "prepare",
                    "rows": out.count(),
                    "output": args.output,
                }
            release_operator_caches()
        elif args.command == "stats":
            from openstack_billing_from_db_spark.sources.stats import table_stats

            rows = table_stats(spark.read.parquet(args.path)).collect()
            result = {
                "command": "stats",
                "path": args.path,
                "columns": {
                    r.column: {
                        "n_rows": r.n_rows,
                        "n_nulls": r.n_nulls,
                        "approx_ndv": r.approx_ndv,
                        "min": r.min_repr,
                        "max": r.max_repr,
                    }
                    for r in rows
                },
            }
        elif args.command == "compact":
            from openstack_billing_from_db_spark.sources.maintenance import (
                compact_parquet,
            )

            result = {
                "command": "compact",
                **compact_parquet(
                    spark, args.path, target_file_mb=args.target_file_mb
                ),
            }
        elif args.command == "delete":
            from openstack_billing_from_db_spark.sources.maintenance import (
                delete_rows,
            )

            result = {
                "command": "delete",
                **delete_rows(spark, args.path, args.predicate),
            }
        elif args.command == "dedup":
            from pyspark.sql import functions as F

            from openstack_billing_from_db_spark.operators import dedup as dd
            from openstack_billing_from_db_spark.operators.caching import (
                release_operator_caches,
            )

            docs = spark.read.parquet(args.path)
            if args.method == "exact":
                # true (doc_a, doc_b) pairs like every other method —
                # the group summary of exact_duplicates would aggregate
                # the member ids away and couldn't drive deletion
                h = docs.select(
                    F.md5(F.col("text")).alias("content_hash"), F.col("doc_id")
                )
                pairs = (
                    h.alias("a")
                    .join(
                        h.alias("b"),
                        (F.col("a.content_hash") == F.col("b.content_hash"))
                        & (F.col("a.doc_id") < F.col("b.doc_id")),
                    )
                    .select(
                        F.col("a.doc_id").alias("doc_a"),
                        F.col("b.doc_id").alias("doc_b"),
                        F.col("a.content_hash").alias("content_hash"),
                    )
                )
            elif args.method == "minhash":
                pairs = dd.minhash_near_duplicates(docs).filter(
                    f"jaccard >= {args.threshold}"
                )
            elif args.method == "simhash":
                pairs = dd.simhash_near_duplicates(dd.simhash(docs))
            elif args.method == "setsim":
                pairs = dd.set_similarity_join(
                    docs, threshold_bp=int(round(args.threshold * 10000))
                )
            elif args.method == "phash":
                # perceptual image pairs over a binary payload column;
                # fingerprint + band width auto-selected from corpus size
                from openstack_billing_from_db_spark.operators import (
                    multimodal,
                )

                pairs = multimodal.phash_near_duplicates(
                    docs, max_hamming=args.max_hamming
                )
            else:  # editdist
                pairs = dd.edit_distance_near_duplicates_two_pass(
                    docs, max_distance=args.max_distance
                )
            pairs.write.mode("overwrite").parquet(args.output)
            # the dedup operators tracked_persist their shared
            # intermediates; release them so repeated invocations on an
            # injected long-lived session don't accumulate pinned caches
            release_operator_caches()
            result = {
                "command": "dedup",
                "method": args.method,
                "rows": spark.read.parquet(args.output).count(),
                "output": args.output,
            }
        elif args.command == "epoch":
            from openstack_billing_from_db_spark.operators import sampling, text
            from openstack_billing_from_db_spark.operators.caching import (
                release_operator_caches,
            )
            from pyspark.sql import functions as F

            docs = spark.read.parquet(args.path)
            kl = text.unigram_kl_divergence(
                docs, group_col="source", text_col="text"
            ).drop("n_terms")
            weights = sampling.doremi_domain_weights(
                kl, eta_per_nat=args.eta, smooth_micro=args.smooth_micro
            )
            kept = sampling.mixture_epoch_sample(
                docs,
                weights,
                total_budget_tokens=args.total_tokens,
                seed=args.seed,
            )
            if args.output:
                kept.write.mode("overwrite").parquet(args.output)
                kept = spark.read.parquet(args.output)
            report = {
                r.source: {
                    "budget_tokens": r.budget_tokens,
                    "n_docs": r.n_docs,
                    "tokens_kept": r.tokens_kept,
                }
                for r in kept.groupBy("source", "budget_tokens")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_docs"),
                    F.sum("n_tokens").cast("long").alias("tokens_kept"),
                )
                .collect()
            }
            release_operator_caches()
            result = {
                "command": "epoch",
                "total_tokens": args.total_tokens,
                "sources": report,
                "output": args.output,
            }
        elif args.command == "pack":
            from pyspark.sql import functions as F

            from openstack_billing_from_db_spark.functions.hashing import (
                seeded_hash64,
            )
            from openstack_billing_from_db_spark.operators.curation import (
                greedy_pack_bins,
                tune_pack_shards,
            )
            from openstack_billing_from_db_spark.operators.text import words

            docs = spark.read.parquet(args.path)
            n_docs = docs.count()
            shards = args.shards or tune_pack_shards(n_docs)
            toks = docs.select(
                "doc_id",
                (
                    seeded_hash64(F.col("doc_id").cast("string"), args.seed)
                    % shards
                ).alias("shard"),
                F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
            )
            assigns = greedy_pack_bins(toks, budget=args.budget)
            if args.output:
                assigns.write.mode("overwrite").parquet(args.output)
                assigns = spark.read.parquet(args.output)
            bins = assigns.groupBy("shard", "bin").agg(
                F.sum("n_tokens").alias("fill")
            )
            summary = bins.agg(
                F.count(F.lit(1)).alias("n_bins"),
                F.sum("fill").alias("total_tokens"),
            ).collect()[0]
            result = {
                "command": "pack",
                "n_docs": n_docs,
                "shards": shards,
                "budget": args.budget,
                "n_bins": summary.n_bins,
                "total_tokens": summary.total_tokens,
                "fill_rate_micro": (
                    summary.total_tokens * 1_000_000
                )
                // (summary.n_bins * args.budget)
                if summary.n_bins
                else 0,
                "output": args.output,
            }
        elif args.command == "qa-alloc":
            from openstack_billing_from_db_spark.operators.sampling import (
                neyman_allocation,
            )
            from openstack_billing_from_db_spark.operators.text import (
                quality_score_micro,
            )
            from pyspark.sql import functions as F

            scored = spark.read.parquet(args.path).select(
                "source", quality_score_micro(F.col("text")).alias("quality_micro")
            )
            rows = neyman_allocation(scored, total_samples=args.budget).collect()
            result = {
                "command": "qa-alloc",
                "budget": args.budget,
                "strata": {
                    r.source: {
                        "n_docs": r.n_docs,
                        "mean_quality_micro": r.mean_value,
                        "sd_quality_micro": r.sd_value,
                        "alloc_neyman": r.alloc_neyman,
                        "alloc_prop": r.alloc_prop,
                    }
                    for r in rows
                },
            }
        elif args.command == "quality-ci":
            from openstack_billing_from_db_spark.operators.sampling import (
                poisson_bootstrap_mean_ci,
            )
            from openstack_billing_from_db_spark.operators.text import (
                quality_score_micro,
            )
            from pyspark.sql import functions as F

            scored = spark.read.parquet(args.path).select(
                "doc_id", quality_score_micro(F.col("text")).alias("quality_micro")
            )
            r = poisson_bootstrap_mean_ci(
                scored, n_replicas=args.replicas
            ).collect()[0]
            result = {
                "command": "quality-ci",
                "n_docs": r.n_docs,
                "point_mean_micro": r.point_mean,
                "ci_lo_micro": r.ci_lo,
                "ci_hi_micro": r.ci_hi,
                "n_replicas": r.n_replicas,
            }
        elif args.command == "scenes":
            from pyspark.sql import functions as F

            from openstack_billing_from_db_spark.operators.multimodal import (
                video_scene_cuts,
            )

            scenes = video_scene_cuts(
                spark.read.parquet(args.path),
                cut_threshold=args.cut_threshold,
            )
            if args.output:
                scenes.write.mode("overwrite").parquet(args.output)
                scenes = spark.read.parquet(args.output)
            agg = scenes.agg(
                F.count(F.lit(1)).alias("n_scenes"),
                F.countDistinct("doc_id").alias("n_videos"),
                # empty input (or all-empty clips): sum is NULL, not 0
                F.coalesce(F.sum("n_frames"), F.lit(0)).alias("n_frames"),
            ).collect()[0]
            result = {
                "command": "scenes",
                "n_videos": int(agg.n_videos),
                "n_scenes": int(agg.n_scenes),
                "n_frames": int(agg.n_frames),
                "cut_threshold": args.cut_threshold,
                "output": args.output,
            }
        else:  # zorder
            from openstack_billing_from_db_spark.sources.zorder import write_zordered

            df = spark.read.parquet(args.path)
            write_zordered(
                df,
                args.output,
                args.cols.split(","),
                num_files=args.num_files,
            )
            result = {
                "command": "zorder",
                "rows": spark.read.parquet(args.output).count(),
                "output": args.output,
            }
        print(json.dumps(result))
        return result
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
