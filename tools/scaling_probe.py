#!/usr/bin/env python
"""Core-count scaling probe for the heaviest catalog entries at a
GENERATED larger corpus — the r17 answer to "the sf0.1 bench can't see
parallelism" (44/57 entries moved ≤1.3× between 8 and 32 cores because
nearly every entry is sub-3 s and stage-scheduling/JIT-bound there).
This does NOT touch the driver-contract bench; it is an additional,
committed instrument.

Modes:

  gen  --out DIR [--copies 8] [--sf /root/testdata/sf0.1]
      Write a scaled corpus: ``documents`` is replicated ``copies``
      times with remapped doc_ids and a copy-specific token inserted
      after every 2nd word — WITHIN-copy near-dup structure is
      preserved (every doc of a copy is transformed identically) while
      CROSS-copy 3-gram shingles share nothing (every shingle spans an
      inserted token), so SHINGLE-keyed pair counts scale linearly in
      ``copies`` instead of quadratically. All other tables copy
      verbatim.

      KNOWN LIMIT (measured, r17): the construction is honest for
      shingle/fingerprint-keyed entries but ADVERSARIAL for
      token-vote simhash — the inserted copy token appears at ~1/3 of
      every token position, dominating the per-doc vote, so all docs
      of a copy collapse toward one simhash and the hamming<=3 OUTPUT
      itself floods quadratically (simhash_combo_neardup: 3.4 s at
      5k docs -> 756 s at 40k). Read simhash-family datapoints as a
      hot-bucket/skew-flood stress, not a typical-corpus scaling
      signal.

  run  --sf SCALED_DIR --out FILE [-n 2] [names...]
      Time the entry list with the bench methodology (noop sink,
      min-of-N); cores come from $SPARK_GRAFT_CPUS exactly like
      bench.py — run once per core count:
          SPARK_GRAFT_CPUS=32 python tools/scaling_probe.py run ...
          SPARK_GRAFT_CPUS=8  python tools/scaling_probe.py run ...

  fold --out SCALING_PROBE_r17.json HIGH.json LOW.json
      Emit per-entry ratio low_cores_sec / high_cores_sec.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: the heaviest genuinely-parallel catalog entries (driver BENCH_r16
#: ordering), all derived from the documents table
DEFAULT_ENTRIES = [
    "dedup_keep_canonical_lsh",
    "dedup_keep_best",
    "dedup_keep_both_shared",
    "ensemble_neardup_pairs",
    "minhash_lsh_pairs",
    "simhash_combo_neardup",
    "winnowing_fingerprints_docs",
    "winnowing_overlap_pairs",
    "span_excised_fixpoint2",
    "image_dhash_neardup_combo",
]


def gen(args) -> None:
    import shutil

    from pyspark.sql import functions as F

    from openmsistream_spark.session import get_spark

    spark = get_spark(app_name="scaling_probe_gen")
    os.makedirs(args.out, exist_ok=True)
    docs = spark.read.parquet(f"{args.sf}/documents.parquet")
    parts = []
    for c in range(args.copies):
        if c == 0:
            parts.append(docs)
            continue
        # insert the copy token after every 2nd word: every 3-gram
        # shingle of the result spans at least one inserted token, so
        # copies share no shingles with each other or with copy 0
        text = F.regexp_replace(
            F.col("text"), r"(\S+\s+\S+)\s+", f"$1 c{c}x "
        )
        parts.append(
            docs.select(
                (F.col("doc_id") + c * 1_000_000).alias("doc_id"),
                text.alias("text"),
                "lang",
                "source",
                F.length(text).alias("n_chars"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(8).write.mode("overwrite").parquet(
        f"{args.out}/documents.parquet"
    )
    for t in os.listdir(args.sf):
        if t != "documents.parquet":
            dst = os.path.join(args.out, t)
            if not os.path.exists(dst):
                src = os.path.join(args.sf, t)
                (shutil.copytree if os.path.isdir(src) else shutil.copyfile)(
                    src, dst
                )
    n = spark.read.parquet(f"{args.out}/documents.parquet").count()
    print(f"wrote {args.out}: documents rows={n} ({args.copies} copies)")
    spark.stop()


def run(args) -> None:
    from openmsistream_spark.catalog import load_all
    from openmsistream_spark.session import get_spark

    QUERIES = load_all()

    import bench  # EXTRA entries (the incremental/2batch pipelines)

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name=f"scaling_probe_c{cpus}")
    names = args.names or DEFAULT_ENTRIES
    # one warm-up entry so JIT/first-stage costs don't land on the
    # first measured run
    QUERIES["minhash_lsh_pairs"].fn(spark, args.sf).write.format(
        "noop"
    ).mode("overwrite").save()
    out = {"cpus": int(cpus), "sf_dir": args.sf, "n": args.n, "queries": {}}
    for name in names:
        fn = QUERIES[name].fn if name in QUERIES else bench.EXTRA[name]
        runs = []
        for _ in range(args.n):
            spark.sparkContext.setJobDescription(f"scaling:{name}@c{cpus}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(time.perf_counter() - t0)
        out["queries"][name] = round(min(runs), 2)
        print(f"{name}: {out['queries'][name]} s (cpus={cpus})", flush=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {args.out}")
    spark.stop()


def fold(args) -> None:
    high = json.load(open(args.inputs[0]))
    low = json.load(open(args.inputs[1]))
    ratios = {
        q: round(low["queries"][q] / high["queries"][q], 2)
        for q in high["queries"]
        if q in low["queries"]
    }
    out = {
        "cpus_high": high["cpus"],
        "cpus_low": low["cpus"],
        "sf_dir": high["sf_dir"],
        "sec_high": high["queries"],
        "sec_low": low["queries"],
        "ratio_low_over_high": ratios,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps(ratios, indent=1))
    print(f"wrote {args.out}")


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="mode", required=True)
    g = sub.add_parser("gen")
    g.add_argument("--out", required=True)
    g.add_argument("--copies", type=int, default=8)
    g.add_argument("--sf", default="/root/testdata/sf0.1")
    g.set_defaults(fn=gen)
    r = sub.add_parser("run")
    r.add_argument("--sf", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("-n", type=int, default=2)
    r.add_argument("names", nargs="*")
    r.set_defaults(fn=run)
    f = sub.add_parser("fold")
    f.add_argument("--out", required=True)
    f.add_argument("inputs", nargs=2)
    f.set_defaults(fn=fold)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
