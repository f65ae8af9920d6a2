"""spark-submit entry point — the ``mdedup`` CLI re-expressed for tables.

Usage. Locally: ``python -m pysparkdedup.cli …``. On a cluster, ship the
package as a --py-files zip and launch through the script shim
(spark-submit runs a script, not a module) — verified end-to-end from a
clean directory:

  python tools/package_pyfiles.py          # -> dist/pysparkdedup.zip
  spark-submit --master <cluster> --py-files dist/pysparkdedup.zip \\
      tools/submit_entry.py \\
      --input /data/pages_parquet \\
      --strategy select-newest --strategy select-one \\
      --action copy-selected --output /data/kept \\
      --mode minhash --checkpoint /data/sigckpt

Mirrors the reference CLI surface (ref cli.py:571-686): strategies with
aliases, size/content thresholds, regexp, dry-run, hash-only mode, and adds
the near-dup modes the reference lacks. ``--jobs`` has no analog: parallelism
is the cluster's (``--master local[N]`` locally).
"""

from __future__ import annotations

import argparse
import json
import sys

from .actions import ACTIONS, perform
from .config import DedupConfig
from .pipeline import run_clustered, run_exact
from .session import get_spark
from .stats import check_stats, compute_stats
from .strategy import ALL_STRATEGY_IDS


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="pysparkdedup",
        description="PySpark-native near-duplicate detection + clustering")
    p.add_argument("--input", required=True,
                   help="source path with (url, warc_ts, html, text, lang)")
    p.add_argument("--input-format", default=None,
                   choices=["parquet", "json", "csv", "files", "table"],
                   help="source format; autodetected when omitted "
                        "(ref --input-format / autodetect_box_type, "
                        "mail_box.py:353-397)")
    p.add_argument("--mode", default="exact",
                   choices=["exact", "minhash", "simhash", "hash-only",
                            "curate", "dedup-against", "tiered", "pipeline",
                            "image-dedup"],
                   help="grouping mode (hash-only prints signatures and "
                        "exits, ref cli.py:656-674; curate runs the "
                        "training-data filter pass and writes --output; "
                        "dedup-against flags --input as a NEW batch vs the "
                        "--checkpoint old corpus and writes the verdicts; "
                        "tiered runs the exact->near->semantic cascade and "
                        "writes the (url, tier, kept_by) ledger; pipeline "
                        "runs curate THEN tiered over the curated text — "
                        "ledger to --output, optional --curated-output / "
                        "--corpus-output; image-dedup runs perceptual dHash "
                        "near-dup over the binary payload column and writes "
                        "the (url, dhash, cluster_key) ledger to --output)")
    p.add_argument("--hamming-threshold", type=int, default=4,
                   help="image-dedup mode: max dHash Hamming distance for a "
                        "duplicate pair (pigeonhole blocking over distinct "
                        "dhash values keeps recall exact at this distance "
                        "while no value-bucket exceeds the internal "
                        "max_bucket_size cap of 256 distinct values; "
                        "over-cap buckets degrade to salted-star candidates)")
    p.add_argument("--embeddings", default=None,
                   help="tiered mode: optional (vec_id, embedding) parquet "
                        "enabling the semantic tier (vec_id matches url)")
    p.add_argument("--emb-threshold", type=float, default=0.95,
                   help="tiered mode: cosine cutoff for the semantic tier")
    p.add_argument("--curated-output", default=None,
                   help="pipeline mode: durable parquet for the curated "
                        "corpus (also serves as the cascade's staging — "
                        "the 100-TB pattern; omitted = localCheckpoint)")
    p.add_argument("--corpus-output", default=None,
                   help="pipeline mode: parquet for the final deduped, "
                        "curated training corpus (ledger-kept docs only)")
    p.add_argument("--cross-dims", action="store_true",
                   help="hash-only + --checkpoint: also persist the "
                        "old-side exact/band/stats dims so later "
                        "--mode dedup-against runs do zero old-side "
                        "aggregations (warm incremental path)")
    p.add_argument("--max-dup-gram-frac", type=float, default=None,
                   help="curate: drop docs whose duplicate-2-gram char "
                        "fraction exceeds this (Gopher-style)")
    p.add_argument("--boilerplate-min-df", type=int, default=0,
                   help="curate: remove lines occurring in >= N distinct "
                        "docs (CCNet-style; 0 = off)")
    p.add_argument("--dedup-paragraphs", action="store_true",
                   help="curate: corpus-wide keep-first line dedup "
                        "(Dolma-style)")
    p.add_argument("--drop-empty", action="store_true",
                   help="curate/pipeline modes: drop docs whose final "
                        "curated text is empty/whitespace-only (incl. docs "
                        "fully consumed by the line stages)")
    p.add_argument("--redact-pii", action="store_true",
                   help="curate: scrub emails/IPs/phones/cards with typed "
                        "placeholders")
    p.add_argument("--line-mode", default="newline",
                   choices=["newline", "chunk", "auto"],
                   help="curate: line unit for the boilerplate/paragraph "
                        "stages — 'newline' splits on real \\n (lossless "
                        "for untouched docs, the right choice for web "
                        "text); 'chunk' uses normalized 10-token "
                        "pseudo-lines for newline-free corpora; 'auto' "
                        "picks per document (real lines when the doc "
                        "contains \\n, pseudo-lines otherwise — safe for "
                        "mixed crawls). Blank lines are always exempt "
                        "from both stages")
    p.add_argument("--strategy", action="append", default=[],
                   choices=sorted(ALL_STRATEGY_IDS),
                   help="selection strategy; repeat for a cascade")
    p.add_argument("--action", default=None, choices=list(ACTIONS))
    p.add_argument("--output", default=None, help="output parquet for actions")
    p.add_argument("--source-output", default=None,
                   help="for move-*: path for the rewritten source without "
                        "the moved rows (move = copy + delete in one verb, "
                        "ref move_mails action.py:94-117)")
    p.add_argument("--regexp", default=None)
    p.add_argument("--size-threshold", type=int, default=512)
    p.add_argument("--content-threshold", type=int, default=768)
    p.add_argument("--hash-body", default="normalized",
                   choices=["skip", "raw", "normalized"],
                   help="BodyHasher mode (ref deduplicate.py:164-178; 'skip' "
                        "keys on metadata only)")
    p.add_argument("--checkpoint", default=None,
                   help="signature checkpoint dir (anti-join resume)")
    p.add_argument("--dry-run", action="store_true")
    p.add_argument("--export-format", default="parquet",
                   choices=["parquet", "json", "csv", "table"],
                   help="export box format (ref mail_box.py:490-511)")
    p.add_argument("--export-append", action="store_true",
                   help="append to an existing export (ref cli.py:501)")
    p.add_argument("--hardlink-differing", action="store_true",
                   help="let pointer dedup link byte-differing duplicates "
                        "(ref action.py:156-192)")
    p.add_argument("--time-column", default="warc_ts",
                   help="timestamp column for time strategies "
                        "(ref --time-source, mail.py:51-64)")
    p.add_argument("--config", default=None, metavar="TOML",
                   help="TOML config file; CLI flags override file values "
                        "(ref tests/test_config.py config-file layer)")
    p.add_argument("--master", default=None)
    return p


def load_config_file(path: str) -> dict:
    """Load the [pysparkdedup] table (or top level) of a TOML config file —
    the reference's config-file layer (ref tests/test_config.py). Keys use
    either the flag spelling ('size-threshold') or snake_case."""
    import tomllib

    with open(path, "rb") as fh:
        data = tomllib.load(fh)
    table = data.get("pysparkdedup", data)
    if not isinstance(table, dict):
        raise ValueError(f"config file {path}: expected a table of options")
    return {k.replace("-", "_"): v for k, v in table.items()}


def _merge_config(args: argparse.Namespace, parser: argparse.ArgumentParser,
                  argv: list[str] | None) -> argparse.Namespace:
    """File values fill in only options NOT given on the command line —
    the reference's precedence (CLI > config file > defaults).

    'Given on the command line' is detected by re-parsing with suppressed
    defaults (an explicit flag set to its default value still wins over the
    file). File values pass through the option's argparse type/choices so a
    mistyped TOML value fails at parse time, not deep in the pipeline."""
    if not args.config:
        return args
    file_vals = load_config_file(args.config)
    actions = {a.dest: a for a in parser._actions}
    saved = [(a, a.default) for a in parser._actions]
    try:
        for a in parser._actions:
            a.default = argparse.SUPPRESS
        provided = set(vars(parser.parse_args(argv)))
    finally:
        for a, d in saved:
            a.default = d
    for key, value in file_vals.items():
        act = actions.get(key)
        if act is None:
            raise ValueError(f"config file: unknown option {key!r}")
        if key in provided:
            continue  # CLI wins
        if key == "strategy":
            if isinstance(value, str):
                value = [value]
            value = list(value)
            bad = [v for v in value if v not in (act.choices or ())]
            if bad:
                raise ValueError(f"config file: unknown strategy {bad!r}")
            args.strategy = value
            continue
        if isinstance(act, (argparse._StoreTrueAction,
                            argparse._StoreFalseAction)):
            # store_true flags have type=None: a TOML string like
            # dry-run = "false" would land truthy on args — require a real
            # TOML bool.
            if not isinstance(value, bool):
                raise ValueError(
                    f"config file: {key!r} must be a TOML bool "
                    f"(true/false), got {value!r}")
            setattr(args, key, value)
            continue
        if act.type is not None and value is not None:
            value = act.type(value)
        if act.choices is not None and value not in act.choices:
            raise ValueError(
                f"config file: {key!r} must be one of {list(act.choices)}, "
                f"got {value!r}")
        setattr(args, key, value)
    return args


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = _merge_config(parser.parse_args(argv), parser, argv)
    strategies = tuple(args.strategy) or ("select-newest",)
    cfg = DedupConfig(
        strategies=strategies,
        regexp=args.regexp,
        size_threshold=args.size_threshold,
        content_threshold=args.content_threshold,
        content_hash_mode=args.hash_body,
        ts_col=args.time_column,
        dry_run=args.dry_run,
    )
    from pyspark.sql import SparkSession

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="pysparkdedup", master=args.master)
    from contextlib import ExitStack

    from .cache import cache_scope

    stack = ExitStack()
    stack.enter_context(cache_scope())
    try:
        from .sources import read_pages, read_parquet

        pages = read_pages(spark, args.input, fmt=args.input_format)

        if args.mode == "curate":
            if not args.output:
                parser.error("--mode curate requires --output")
            from .curate import curate_pages

            cur = curate_pages(
                pages,
                max_dup_gram_frac=args.max_dup_gram_frac,
                boilerplate_min_df=args.boilerplate_min_df,
                dedup_paragraphs=args.dedup_paragraphs,
                redact=args.redact_pii,
                drop_empty=args.drop_empty,
                line_mode=args.line_mode,
            )
            cur.write.mode("overwrite").parquet(args.output)
            # DOCS_OUT from the written footers (metadata-scale, no
            # recompute of the curation plan)
            print(json.dumps({
                "DOCS_IN": pages.count(),
                "DOCS_OUT": read_parquet(
                    spark, args.output, cur.schema).count(),
            }, indent=2))
            return 0

        if args.mode == "tiered":
            if not args.output:
                parser.error("--mode tiered requires --output")
            from .tiers import tier_stats, tiered_dedup

            emb = (spark.read.parquet(args.embeddings)
                   if args.embeddings else None)
            ledger = tiered_dedup(pages, cfg, emb=emb,
                                  emb_threshold=args.emb_threshold)
            ledger.write.mode("overwrite").parquet(args.output)
            row = tier_stats(read_parquet(
                spark, args.output, ledger.schema)).collect()[0].asDict()
            print(json.dumps({k.upper(): v for k, v in row.items()},
                             indent=2))
            return 0

        if args.mode == "pipeline":
            if not args.output:
                parser.error("--mode pipeline requires --output")
            from .tiers import tier_stats
            from .trainpipe import curate_and_dedup, surviving_docs

            emb = (spark.read.parquet(args.embeddings)
                   if args.embeddings else None)
            curated, ledger = curate_and_dedup(
                pages, cfg, emb=emb, emb_threshold=args.emb_threshold,
                curate_kwargs=dict(
                    max_dup_gram_frac=args.max_dup_gram_frac,
                    boilerplate_min_df=args.boilerplate_min_df,
                    dedup_paragraphs=args.dedup_paragraphs,
                    redact=args.redact_pii,
                    drop_empty=args.drop_empty,
                    line_mode=args.line_mode),
                staging_path=args.curated_output)
            ledger.write.mode("overwrite").parquet(args.output)
            led = read_parquet(spark, args.output, ledger.schema)
            if args.corpus_output:
                surviving_docs(curated, led).write.mode(
                    "overwrite").parquet(args.corpus_output)
            row = tier_stats(led).collect()[0].asDict()
            print(json.dumps({
                "DOCS_IN": pages.count(),
                "CURATED": curated.count(),
                **{k.upper(): v for k, v in row.items()},
            }, indent=2))
            return 0

        if args.mode == "image-dedup":
            if not args.output:
                parser.error("--mode image-dedup requires --output")
            from pyspark.sql import functions as F

            from .multimodal import image_dedup_ledger

            ledger = image_dedup_ledger(
                pages, hamming_threshold=args.hamming_threshold)
            ledger.write.mode("overwrite").parquet(args.output)
            led = read_parquet(spark, args.output, ledger.schema)
            sizes = led.groupBy("cluster_key").count()
            row = led.agg(
                F.count(F.lit(1)).alias("images_in"),
                F.count("dhash").alias("hashed"),
            ).collect()[0]
            dup = sizes.filter(F.col("count") >= 2).agg(
                F.count(F.lit(1)).alias("dup_clusters"),
                F.coalesce(F.sum("count"), F.lit(0)).alias("dup_images"),
            ).collect()[0]
            print(json.dumps({
                "IMAGES_IN": row["images_in"],
                "HASHED": row["hashed"],
                "DUP_CLUSTERS": dup["dup_clusters"],
                "DUP_IMAGES": dup["dup_images"],
            }, indent=2))
            return 0

        if args.mode == "hash-only":
            from .checkpoint import compute_signatures

            sigs = compute_signatures(pages, cfg)
            if args.checkpoint:
                from .checkpoint import SignatureCheckpoint

                SignatureCheckpoint(args.checkpoint).commit(
                    sigs, cfg, cross_dims=args.cross_dims)
            sigs.show(20, truncate=60)
            return 0

        if args.mode == "dedup-against":
            # Incremental-crawl verb: --input is the NEW batch; the old
            # corpus is the --checkpoint's committed signature snapshot
            # (plus its persisted cross dims when the commit carried
            # --cross-dims — the warm path, zero old-side aggregations).
            if not args.checkpoint:
                parser.error("--mode dedup-against requires --checkpoint")
            if not args.output:
                parser.error("--mode dedup-against requires --output")
            from pyspark.sql import functions as F

            from .crosscorpus import dedup_against_checkpoint

            flagged = dedup_against_checkpoint(pages, args.checkpoint, cfg)
            flagged.write.mode("overwrite").parquet(args.output)
            counts = {
                r["status"]: r["n"]
                for r in read_parquet(spark, args.output, flagged.schema)
                .groupBy("status").agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            print(json.dumps({
                "NEW_DOCS": sum(counts.values()),
                "EXACT_DUP": counts.get("exact_dup", 0),
                "NEAR_DUP": counts.get("near_dup", 0),
                "UNIQUE": counts.get("unique", 0),
            }, indent=2))
            return 0

        if args.checkpoint and args.mode in ("exact", "minhash", "simhash"):
            from .pipeline import run_incremental

            final = run_incremental(pages, cfg, args.checkpoint,
                                    mode=args.mode)
        elif args.mode == "exact":
            final = run_exact(pages, cfg)
        else:
            if args.mode == "minhash":
                from .minhash import minhash_clusters

                clusters = minhash_clusters(pages, cfg)
            else:
                from .simhash import simhash_clusters

                clusters = simhash_clusters(pages, cfg)
            final = run_clustered(pages, cfg, clusters)

        from .stats import Stat

        stats = compute_stats(final)
        if args.action:
            result = perform(final, args.action, args.output,
                             dry_run=args.dry_run, pages=pages,
                             fmt=args.export_format,
                             append=args.export_append,
                             hardlink_differing=args.hardlink_differing,
                             source_out_path=args.source_output)
            verb_stat = {"copy": Stat.MAIL_COPIED, "move": Stat.MAIL_MOVED,
                         "delete": Stat.MAIL_DELETED}.get(
                             args.action.split("-")[0])
            if verb_stat is not None:
                stats[verb_stat] = result["count"]
            stats_out = {s.name: v for s, v in stats.items()}
            stats_out["ACTION_" + result["action"].upper()] = result["count"]
        else:
            stats_out = {s.name: v for s, v in stats.items()}
        check_stats(stats, action=args.action)  # exit-115 analog: raises
        print(json.dumps(stats_out, indent=2))
        return 0
    finally:
        # release every library-persisted frame of this run (cache.py) —
        # matters when the session is caller-owned (daemon/notebook loops)
        stack.close()
        if not preexisting:  # don't tear down a caller-owned session
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
