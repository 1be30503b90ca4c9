"""Command-line entry points — the reference's console-script surface.

The reference installs its flagship programs as console scripts
(pyproject.toml:22-31: ``UploadDataFile``, ``DataFileUploadDirectory``,
``DataFileDownloadDirectory``, plus the DLQ reproduction tool under
tools/undecryptable_messages) with argparse-driven options
(utilities/argument_parsing.py:99-260). This module mirrors that first
touch for a Spark deployment: the same verbs, kebab-cased, each a thin
argparse wrapper over ``pipelines.py`` — all heavy lifting stays in the
library so programmatic users and the CLI share one code path.

    python -m openmsistream_spark.cli upload-directory  WATCH_DIR --topic URI
    python -m openmsistream_spark.cli upload-file       FILE      --topic URI
    python -m openmsistream_spark.cli download-directory OUT_DIR  --topic URI
    python -m openmsistream_spark.cli reproduce-dlq     DLQ_DIR   --topic URI

Topic URIs: ``kafka://hosts/topic`` for a live broker, anything else is
a parquet-directory topic (the brokerless staging transport — see
pipelines.py module docstring). Installed console scripts (pyproject):
``oms-upload-file``, ``oms-upload-directory``, ``oms-download-directory``,
``oms-reproduce-dlq``, ``oms-curate-corpus``, ``oms-fingerprint-media``.

The LLM-pipeline verbs (no reference counterpart — the driver brief's
training-data surface):

    ... curate-corpus    IN.parquet OUT_DIR [--neardup --tag
                         --attrition-report COL ...]
    ... extract-crawl    IN.parquet OUT_DIR [--html-col html ...]
    ... fingerprint-media IN.parquet OUT_DIR [--modality image|audio|video
                         --pairs-dir PAIRS_DIR ...]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections.abc import Sequence

from .schemas import DEFAULT_CHUNK_SIZE
from .streaming.sources import DEFAULT_UPLOAD_REGEX


def _session(args: argparse.Namespace):
    from .session import get_spark

    return get_spark(
        app_name=f"oms-{args.command}",
        shuffle_partitions=args.shuffle_partitions,
    )


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument(
        "--topic",
        required=True,
        help="topic URI (kafka://hosts/topic, or a parquet directory "
        "path); with --config, a bare topic NAME resolved against the "
        "config's broker",
    )
    p.add_argument(
        "--config",
        default=None,
        help="reference-format INI config file ([broker]/[producer]/"
        "[consumer], $ENV_VAR values); --topic then names the topic and "
        "client options flow to the Kafka connector",
    )
    p.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        help="spark.sql.shuffle.partitions override (default: session default)",
    )


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="openmsistream-spark",
        description=__doc__.split("\n\n")[0],
    )
    sub = ap.add_subparsers(dest="command", required=True)

    up = sub.add_parser(
        "upload-directory",
        help="chunk + serialize every eligible file under a directory "
        "to a topic (reference: DataFileUploadDirectory)",
    )
    up.add_argument("watch_dir", help="directory of files to upload")
    _add_common(up)
    up.add_argument(
        "--chunk-size", type=int, default=DEFAULT_CHUNK_SIZE,
        help=f"bytes per chunk (default {DEFAULT_CHUNK_SIZE})",
    )
    up.add_argument(
        "--upload-regex", default=DEFAULT_UPLOAD_REGEX,
        help="only files whose relative path matches are uploaded",
    )
    up.add_argument(
        "--registry-dir", default=None,
        help="optional producer ledger directory (R4: records completed files)",
    )

    uf = sub.add_parser(
        "upload-file",
        help="chunk + serialize ONE file to a topic (reference: UploadDataFile)",
    )
    uf.add_argument("file", help="path of the file to upload")
    _add_common(uf)
    uf.add_argument("--chunk-size", type=int, default=DEFAULT_CHUNK_SIZE)
    uf.add_argument("--registry-dir", default=None)

    dl = sub.add_parser(
        "download-directory",
        help="consume a topic and reconstruct complete files under a "
        "directory (reference: DataFileDownloadDirectory)",
    )
    dl.add_argument("out_dir", help="directory to reconstruct files into")
    _add_common(dl)
    dl.add_argument(
        "--key-regex", default=None,
        help="only consume messages whose key matches (F1)",
    )
    dl.add_argument(
        "--filepath-regex", default=None,
        help="only reconstruct files whose relative path matches (F2)",
    )
    dl.add_argument(
        "--dlq-dir", default=None,
        help="directory to append undeserializable messages to (K6)",
    )

    rd = sub.add_parser(
        "reproduce-dlq",
        help="re-produce dead-lettered messages to a topic (reference: "
        "tools/undecryptable_messages)",
    )
    rd.add_argument("dlq_dir", help="DLQ parquet directory to re-produce from")
    _add_common(rd)

    cc = sub.add_parser(
        "curate-corpus",
        help="batch LLM-corpus curation: exact + near dedup, quality "
        "filter, PII redaction; optional durable ledgers and training "
        "shards",
    )
    cc.add_argument("in_parquet", help="input corpus parquet (id + text columns)")
    cc.add_argument("out_dir", help="directory for the curated parquet")
    cc.add_argument("--id-col", default="doc_id")
    cc.add_argument("--text-col", default="text")
    cc.add_argument(
        "--neardup", action="store_true",
        help="also remove within-corpus near-duplicates (MinHash-LSH + "
        "connected components, one representative per cluster)",
    )
    cc.add_argument(
        "--threshold", type=float, default=None,
        help="near-dup Jaccard threshold (default: operator default)",
    )
    cc.add_argument(
        "--exact-ledger", default=None,
        help="durable content-hash ledger dir: drop docs any prior run admitted",
    )
    cc.add_argument(
        "--lsh-ledger", default=None,
        help="durable LSH band ledger dir: drop near-dups of prior runs",
    )
    cc.add_argument(
        "--run-id", default=None,
        help="ledger run key; re-running with the same id replays the "
        "identical admissions (exactly-once)",
    )
    cc.add_argument(
        "--ledger-backend", default="auto",
        choices=["auto", "parquet", "log"],
        help="durable-ledger storage backend: 'log' appends O(batch) "
        "delta segments with fold-forward compaction (the unbounded-"
        "ledger choice); 'parquet' rewrites atomically; 'auto' honours "
        "an existing ledger's on-disk format, else picks log for fresh "
        "ledger paths (these grow without bound)",
    )
    cc.add_argument(
        "--eval-parquet", default=None,
        help="benchmark/eval parquet: drop training docs sharing any "
        "8-gram with it (decontamination)",
    )
    cc.add_argument(
        "--decontaminate-min-hits", type=int, default=1,
        help="n-gram overlaps needed to disqualify a doc (with --eval-parquet)",
    )
    cc.add_argument(
        "--eval-id-col", default="doc_id",
        help="id column name in the eval parquet",
    )
    cc.add_argument(
        "--eval-text-col", default="text",
        help="text column name in the eval parquet",
    )
    cc.add_argument(
        "--shard-dir", default=None,
        help="also pack the curated corpus into training shards here",
    )
    cc.add_argument(
        "--shard-budget-tokens", type=int, default=1_000_000,
        help="tokens per training shard (with --shard-dir)",
    )
    cc.add_argument(
        "--no-report", action="store_true",
        help="skip per-stage row counts (one count job per stage)",
    )
    cc.add_argument(
        "--tag", action="store_true",
        help="TAG-don't-drop mode (Dolma-style): write EVERY input row "
        "with per-stage boolean verdict columns instead of filtering — "
        "one pass serves many downstream filter policies; incompatible "
        "with the ledger/shard options (drop-mode-only features)",
    )
    cc.add_argument(
        "--attrition-report", default=None, metavar="GROUP_COL",
        help="with --tag: also write a per-GROUP_COL attrition report "
        "(first-fail stage drops + per-rule fail counts) to "
        "OUT_DIR_attrition",
    )
    cc.add_argument(
        "--shuffle-partitions", type=int, default=None,
        help="spark.sql.shuffle.partitions override",
    )

    fm = sub.add_parser(
        "fingerprint-media",
        help="perceptual-fingerprint a media parquet (image/audio/video "
        "binary column) to one 64-bit fingerprint per item; optionally "
        "also emit near-dup pairs (Manku combination blocking)",
    )
    fm.add_argument("in_parquet", help="input parquet (id + binary content)")
    fm.add_argument("out_dir", help="directory for the fingerprint parquet")
    fm.add_argument(
        "--modality", choices=["image", "audio", "video"], default="image",
        help="image: dHash/pHash; audio: temporal-envelope hash; video: "
        "per-keyframe dHash/pHash reduced to the majority-fold "
        "representative (one row per video)",
    )
    fm.add_argument(
        "--algo", choices=["dhash", "phash"], default="dhash",
        help="perceptual hash for image/video frames (audio always uses "
        "the envelope hash)",
    )
    fm.add_argument("--id-col", default="media_id")
    fm.add_argument("--content-col", default="content")
    fm.add_argument(
        "--every-nth", type=int, default=1,
        help="video keyframe sampling rate (hash every n-th frame)",
    )
    fm.add_argument(
        "--skip-undecodable", action="store_true",
        help="skip rows the dependency-free decoders can't parse "
        "instead of failing (mixed-modality corpora)",
    )
    fm.add_argument(
        "--pairs-dir", default=None,
        help="also write near-dup pairs (id_a, id_b, hamming) here",
    )
    fm.add_argument(
        "--max-hamming", type=int, default=3,
        help="near-dup Hamming budget for --pairs-dir (crawl-scale "
        "default 3; must stay below --blocks)",
    )
    fm.add_argument(
        "--blocks", type=int, default=8,
        help="combination-blocking block count for --pairs-dir",
    )
    fm.add_argument(
        "--shuffle-partitions", type=int, default=None,
        help="spark.sql.shuffle.partitions override",
    )

    ec = sub.add_parser(
        "extract-crawl",
        help="raw-crawl FRONT half: HTML->text main-content extraction, "
        "unicode normalize (mojibake/control/NFC), C4 line rules — the "
        "published recipe's stage before curate-corpus",
    )
    ec.add_argument("in_parquet", help="input parquet (id + html or text column)")
    ec.add_argument("out_dir", help="directory for the extracted parquet")
    ec.add_argument("--id-col", default="doc_id")
    ec.add_argument(
        "--html-col", default=None,
        help="column holding raw HTML pages; omit if the input is "
        "already plain text (normalize + line rules only)",
    )
    ec.add_argument("--text-col", default="text", help="output text column")
    ec.add_argument(
        "--min-text-len", type=int, default=None,
        help="main-content block keep threshold (with --html-col)",
    )
    ec.add_argument(
        "--no-line-rules", action="store_true",
        help="skip the C4 line/page rules (extract + normalize only)",
    )
    ec.add_argument(
        "--shuffle-partitions", type=int, default=None,
        help="spark.sql.shuffle.partitions override",
    )

    return ap


def main(argv: Sequence[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if (
        args.command == "extract-crawl"
        and args.min_text_len is not None
        and args.html_col is None
    ):
        # the keep threshold only applies during HTML main-content
        # extraction; silently ignoring it in text-only mode would let a
        # user believe they tuned something (round-12 advisory)
        parser.error(
            "--min-text-len only applies during HTML extraction — "
            "pass --html-col, or drop --min-text-len for text-only input"
        )
    if args.command == "curate-corpus":
        if args.attrition_report and not args.tag:
            parser.error(
                "--attrition-report needs the per-stage verdict columns "
                "— pass --tag as well"
            )
        if args.tag and (
            args.exact_ledger or args.lsh_ledger or args.run_id or args.shard_dir
        ):
            # documented drop-mode-only features: ledgers rewrite corpus
            # membership across runs and shards need a filtered corpus —
            # silently ignoring them would misreport what ran
            parser.error(
                "--tag is incompatible with --exact-ledger/--lsh-ledger/"
                "--run-id/--shard-dir (drop-mode-only features: ledgers "
                "rewrite membership across runs, shards pack a FILTERED "
                "corpus) — run those in drop mode"
            )
    if (
        args.command == "fingerprint-media"
        and args.pairs_dir
        and args.max_hamming >= args.blocks
    ):
        parser.error(
            f"--max-hamming {args.max_hamming} needs more than "
            f"{args.blocks} blocks (at least one block must be untouched "
            "for the combination-blocking sweep to be complete)"
        )

    # --config: reference-format INI resolves the bare topic name to a
    # kafka:// URI and supplies client options to the connector
    kafka_opts = None
    if getattr(args, "config", None):
        from .config import kafka_options, parse_config, topic_uri

        cfg = parse_config(args.config)
        role = "consumer" if args.command == "download-directory" else "producer"
        kafka_opts = kafka_options(cfg, role)
        args.topic = topic_uri(cfg, args.topic)

    spark = _session(args)

    if args.command == "upload-directory":
        from .pipelines import upload_directory

        n = upload_directory(
            spark,
            args.watch_dir,
            args.topic,
            chunk_size=args.chunk_size,
            upload_regex=args.upload_regex,
            registry_dir=args.registry_dir,
            kafka_opts=kafka_opts,
        )
        print(f"uploaded {n} chunks from {args.watch_dir} to {args.topic}")
        return 0

    if args.command == "upload-file":
        from .pipelines import upload_directory

        path = os.path.abspath(args.file)
        if not os.path.isfile(path):
            print(f"no such file: {args.file}", file=sys.stderr)
            return 2
        # one file == the directory pipeline scoped to exactly that
        # relative path (the reference's UploadDataFile is the same
        # produce path with a single-file source,
        # upload_data_file.py:18-77)
        n = upload_directory(
            spark,
            os.path.dirname(path),
            args.topic,
            chunk_size=args.chunk_size,
            upload_regex=f"^{re.escape(os.path.basename(path))}$",
            registry_dir=args.registry_dir,
            kafka_opts=kafka_opts,
        )
        print(f"uploaded {n} chunks from {path} to {args.topic}")
        return 0

    if args.command == "download-directory":
        from .pipelines import download_directory
        from .schemas import CODE_SUCCESSFULLY_RECONSTRUCTED

        status = download_directory(
            spark,
            args.topic,
            args.out_dir,
            key_regex=args.key_regex,
            filepath_regex=args.filepath_regex,
            dlq_dir=args.dlq_dir,
            kafka_opts=kafka_opts,
        )
        rows = status.collect()
        ok = sum(1 for r in rows if r.status == CODE_SUCCESSFULLY_RECONSTRUCTED)
        print(
            f"reconstructed {ok}/{len(rows)} files from {args.topic} "
            f"into {args.out_dir}"
        )
        return 0 if ok == len(rows) else 1

    if args.command == "reproduce-dlq":
        from .pipelines import reproduce_dlq

        n = reproduce_dlq(spark, args.dlq_dir, args.topic, kafka_opts=kafka_opts)
        print(f"re-produced {n} messages from {args.dlq_dir} to {args.topic}")
        return 0

    if args.command == "curate-corpus" and args.tag:
        import json

        from .llm.curate import attrition_report, tag_corpus

        docs = spark.read.parquet(args.in_parquet)
        conf = {"threshold": args.threshold} if args.threshold is not None else {}
        tagged = tag_corpus(
            docs,
            id_col=args.id_col,
            text_col=args.text_col,
            neardup=args.neardup,
            neardup_conf=conf,
            eval_docs=(
                spark.read.parquet(args.eval_parquet)
                if args.eval_parquet
                else None
            ),
            decontaminate_conf={
                "min_hits": args.decontaminate_min_hits,
                "eval_id_col": args.eval_id_col,
                "eval_text_col": args.eval_text_col,
            },
        )
        tagged.write.mode("overwrite").parquet(args.out_dir)
        result = {"out": args.out_dir, "mode": "tag"}
        if args.attrition_report:
            report_dir = args.out_dir.rstrip("/") + "_attrition"
            attrition_report(
                spark.read.parquet(args.out_dir), args.attrition_report
            ).write.mode("overwrite").parquet(report_dir)
            result["attrition"] = report_dir
        print(json.dumps(result))
        return 0

    if args.command == "curate-corpus":
        import json

        from .llm.curate import curate_corpus
        from .llm.packing import write_training_shards
        from .operators.registry import make_registry

        docs = spark.read.parquet(args.in_parquet)
        exact = (
            make_registry(
                spark, args.exact_ledger, ["content_hash"],
                backend=args.ledger_backend, prefer="log",
            )
            if args.exact_ledger
            else None
        )
        lsh = (
            make_registry(
                spark, args.lsh_ledger, ["band", "band_sig", args.id_col],
                backend=args.ledger_backend, prefer="log",
            )
            if args.lsh_ledger
            else None
        )
        conf = {"threshold": args.threshold} if args.threshold is not None else {}
        curated, stages = curate_corpus(
            docs,
            id_col=args.id_col,
            text_col=args.text_col,
            neardup=args.neardup,
            neardup_conf=conf,
            exact_ledger=exact,
            lsh_ledger=lsh,
            run_id=args.run_id,
            eval_docs=(
                spark.read.parquet(args.eval_parquet)
                if args.eval_parquet
                else None
            ),
            decontaminate_conf={
                "min_hits": args.decontaminate_min_hits,
                "eval_id_col": args.eval_id_col,
                "eval_text_col": args.eval_text_col,
            },
            report=not args.no_report,
        )
        curated.write.mode("overwrite").parquet(args.out_dir)
        result = {"out": args.out_dir, "stages": stages}
        if args.shard_dir:
            # the packer recomputes n_tokens from the (redacted) text and
            # reserves that name — drop the quality stage's copy
            shard_input = curated.drop("n_tokens", "bucket", "shard", "_ord")
            manifest = write_training_shards(
                shard_input,
                args.shard_dir,
                budget_tokens=args.shard_budget_tokens,
                id_col=args.id_col,
                text_col="redacted",
            )
            result["shards"] = manifest.select("bucket", "shard").distinct().count()
            result["shard_dir"] = args.shard_dir
        print(json.dumps(result))
        return 0

    if args.command == "fingerprint-media":
        import json

        from .llm.phash import hamming_combo_pairs

        media = spark.read.parquet(args.in_parquet)
        strict = not args.skip_undecodable
        if args.modality == "image":
            from .llm.phash import image_fingerprints

            fps = image_fingerprints(
                media, algo=args.algo, strict=strict,
                id_col=args.id_col, content_col=args.content_col,
            )
        elif args.modality == "audio":
            from .llm.audiofp import audio_fingerprints

            fps = audio_fingerprints(
                media, strict=strict,
                id_col=args.id_col, content_col=args.content_col,
            )
        else:  # video: frame hashes -> majority-fold representative
            from .llm.videofp import (
                video_frame_fingerprints,
                video_representative_fingerprint,
            )

            fps = video_representative_fingerprint(
                video_frame_fingerprints(
                    media, every_nth=args.every_nth, algo=args.algo,
                    strict=strict, id_col=args.id_col,
                    content_col=args.content_col,
                )
            )
        fps.write.mode("overwrite").parquet(args.out_dir)
        result = {
            "out": args.out_dir,
            "modality": args.modality,
            "media": spark.read.parquet(args.out_dir).count(),
        }
        if args.pairs_dir:
            # pairs read the WRITTEN fingerprints: the Arrow decode+hash
            # stage runs once, and the pair job's two self-join branches
            # scan 16-byte rows instead of re-decoding media
            pairs = hamming_combo_pairs(
                spark.read.parquet(args.out_dir),
                blocks=args.blocks,
                max_hamming=args.max_hamming,
                persist_fingerprints=False,
            )
            pairs.write.mode("overwrite").parquet(args.pairs_dir)
            result["pairs_dir"] = args.pairs_dir
            result["pairs"] = spark.read.parquet(args.pairs_dir).count()
        print(json.dumps(result))
        return 0

    if args.command == "extract-crawl":
        import json

        from .streaming.extract import crawl_front_transform

        pages = spark.read.parquet(args.in_parquet)
        out = crawl_front_transform(
            pages,
            html_col=args.html_col,
            text_col=args.text_col,
            id_col=args.id_col,
            min_text_len=args.min_text_len,
            apply_line_rules=not args.no_line_rules,
        )
        out.write.mode("overwrite").parquet(args.out_dir)
        # with line rules on, c4_line_filter already drops every page
        # with zero kept lines, so every written doc has n_kept >= 1 —
        # one count says it all
        n_docs = spark.read.parquet(args.out_dir).count()
        print(json.dumps({"out": args.out_dir, "docs": n_docs}))
        return 0

    raise AssertionError(f"unhandled command {args.command!r}")


def upload_file_main() -> int:
    return main(["upload-file", *sys.argv[1:]])


def upload_directory_main() -> int:
    return main(["upload-directory", *sys.argv[1:]])


def download_directory_main() -> int:
    return main(["download-directory", *sys.argv[1:]])


def reproduce_dlq_main() -> int:
    return main(["reproduce-dlq", *sys.argv[1:]])


def curate_corpus_main() -> int:
    return main(["curate-corpus", *sys.argv[1:]])


def fingerprint_media_main() -> int:
    return main(["fingerprint-media", *sys.argv[1:]])


if __name__ == "__main__":
    sys.exit(main())
