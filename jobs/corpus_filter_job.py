"""End-to-end training-corpus filter: the pipeline a 100 TB pretraining
data refresh actually runs, composed from this engine's operators —

    quality/lang annotate → quality gate → exact dedup (keep-first)
    → MinHash near-dup removal → eval-set decontamination (verbatim spans)
    → per-language stratified downsample → token-budget corpus mixing
    → deterministic train/test split → fixed-budget shard packing
    → parquet partitioned by split

Run via spark-submit:

    python tools/build_pyfiles.py
    spark-submit --driver-memory 6g --py-files dist/timeseriestokenizer_spark.zip \
        jobs/corpus_filter_job.py --input <documents_parquet> --output <dir> \
        [--min-quality 0.3] [--jaccard 0.5] [--lang-fractions '{"en":0.5}'] \
        [--decontaminate <eval_parquet> --decon-ngram 13 --decon-max-span 13] \
        [--mixture-weights '{"web":2.0,"books":1.0}' --token-budget 1000000] \
        [--test-fraction 0.1] [--shard-chars 500000] [--seed 42]

Prints one JSON line of per-stage row counts (the funnel — what a data
curator reads first). Every stage is deterministic: content hashes drive
dedup, sampling, and the split, so a re-run (or a backfill on a grown
corpus) reproduces/extends the same decisions instead of reshuffling them.

Scale notes: annotations and the quality gate are scan-local Catalyst
expressions; exact dedup groups on md5 (fixed-width shuffle keys); near-dup
candidates come from banded MinHash-LSH (equi-join, linear shuffle) with
exact-Jaccard verify on candidates only; decontamination reduces the eval
set to distinct 60-bit gram hashes and screens training docs with one
semi-join + one gaps-and-islands window (linear in corpus grams, no text
on the shuffle); mixing is the two-pass grouped running total over
(source, hash)-ordered token counts; sampling/split are scan-local hash
predicates; shard packing is the two-pass global cumsum (no
single-partition window). The funnel counts cost one count() per stage on
a cached frame each — at real scale, drop --funnel to skip them.
"""

from __future__ import annotations

import os as _os
import sys as _sys

# allow plain `python jobs/<job>.py` without --py-files (spark-submit with
# --py-files and in-process test callers are unaffected)
_sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))

import argparse
import json
import time


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--min-quality", type=float, default=0.3)
    p.add_argument("--jaccard", type=float, default=0.5)
    p.add_argument("--max-bucket", type=int, default=None,
                   help="hot-bucket guard for MinHash banding (drops viral "
                        "boilerplate buckets larger than this; recall trade "
                        "documented on jaccard_verified_pairs)")
    p.add_argument("--lang-fractions", default=None,
                   help='JSON dict lang->fraction; unlisted langs keep 1.0')
    p.add_argument("--decontaminate", default=None,
                   help="parquet of held-out eval docs; training docs that "
                        "share a verbatim token span with ANY eval doc are "
                        "dropped (the standard pretraining decontamination "
                        "rule)")
    p.add_argument("--decon-ngram", type=int, default=13,
                   help="shingle width w for the span screen (tokens)")
    p.add_argument("--decon-max-span", type=int, default=None,
                   help="drop a training doc when its longest verbatim run "
                        "spans >= this many tokens (default: w, i.e. any "
                        "single w-gram hit disqualifies)")
    p.add_argument("--mixture-weights", default=None,
                   help='JSON dict source->weight for token-budget corpus '
                        'mixing (requires --token-budget)')
    p.add_argument("--token-budget", type=int, default=None,
                   help="total whitespace-token budget split across sources "
                        "by --mixture-weights")
    p.add_argument("--test-fraction", type=float, default=0.1)
    p.add_argument("--shard-chars", type=int, default=500_000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--funnel", action=argparse.BooleanOptionalAction, default=True,
                   help="per-stage row counts (one count() per cached stage); "
                        "--no-funnel skips them at real scale")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.functions.sampling import (
        stratified_sample,
        with_hash_split,
    )
    from timeseriestokenizer_spark.functions.textstats import (
        with_lang_guess,
        with_quality,
    )
    from timeseriestokenizer_spark.operators.dedup import (
        dedup_survivors,
        exact_dedup,
        jaccard_verified_pairs,
    )
    from timeseriestokenizer_spark.operators.packing import pack_shards
    from timeseriestokenizer_spark.session import release_held

    spark = SparkSession.builder.appName("tts-corpus-filter").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.time()
    funnel = {}

    docs = spark.read.parquet(args.input)
    if args.funnel:
        funnel["input"] = docs.count()

    # 1. annotate + quality gate (scan-local expressions)
    ann = with_lang_guess(with_quality(docs))
    kept = ann.filter(F.col("quality_score") >= args.min_quality).cache()
    stage_cache = kept  # superseded stage caches are unpersisted as we go
    if args.funnel:
        funnel["quality_gate"] = kept.count()

    # 2. exact dedup, keep-first by doc_id
    keepers = exact_dedup(kept, "doc_id").select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    kept = kept.join(keepers, "doc_id", "left_semi").cache()
    if args.funnel:
        funnel["exact_dedup"] = kept.count()
    stage_cache.unpersist()
    stage_cache = kept

    # 3. near-dup removal (MinHash-LSH candidates, exact-Jaccard verify,
    #    connected components, keep cluster-min)
    # spread the shingle/md5 hashing: a single-row-group input otherwise
    # pins it to one task (CLAUDE.md gotcha; same knob as the contract row)
    pairs = jaccard_verified_pairs(
        kept, "doc_id", threshold=args.jaccard,
        parallelism=spark.sparkContext.defaultParallelism,
        max_bucket=args.max_bucket,
    )
    # deep=True: large-star/small-star O(log n) cluster resolution — the
    # corpus-scale default (plain propagation is O(chain diameter) rounds)
    kept = dedup_survivors(kept, pairs, "doc_id", deep=True).cache()
    if args.funnel:
        funnel["near_dedup"] = kept.count()
    stage_cache.unpersist()
    stage_cache = kept

    # 3b. eval-set decontamination: drop training docs sharing a verbatim
    #     >= max_span-token run with any eval doc. span_contamination's
    #     roles are SWAPPED on purpose — its "train" side (reduced to
    #     distinct 60-bit gram hashes) is the small eval set, its cached
    #     "eval" side (positional grams) is our training corpus, and the
    #     answer per TRAINING doc is its longest run of eval-known grams.
    if args.decontaminate:
        from timeseriestokenizer_spark.operators.dedup import span_contamination

        eval_docs = spark.read.parquet(args.decontaminate)
        max_span = args.decon_max_span or args.decon_ngram
        spans = span_contamination(
            eval_docs, kept, "doc_id", w=args.decon_ngram,
            parallelism=spark.sparkContext.defaultParallelism,
        )
        clean = spans.filter(F.col("max_span_tokens") < max_span).select("doc_id")
        kept = kept.join(clean, "doc_id", "left_semi").cache()
        # materialize now (even without --funnel) so the span screen's
        # internal cache can be dropped before the next stage
        n_clean = kept.count()
        if args.funnel:
            funnel["decontaminated"] = n_clean
        release_held()
        stage_cache.unpersist()
        stage_cache = kept

    # 4. per-language stratified downsample (hash-deterministic)
    if args.lang_fractions:
        fr = json.loads(args.lang_fractions)
        kept = stratified_sample(
            kept, "lang_guess", fr, ["doc_id"], seed=args.seed, default_fraction=1.0
        ).cache()
        if args.funnel:
            funnel["stratified"] = kept.count()
        stage_cache.unpersist()
        stage_cache = kept

    # 4b. token-budget corpus mixing: exact per-source token quotas in
    #     content-hash order (deterministic, unbiased prefix)
    if args.mixture_weights:
        if not args.token_budget:
            raise SystemExit("--mixture-weights requires --token-budget")
        from timeseriestokenizer_spark.functions.sampling import mixture_take

        taken = mixture_take(
            kept, json.loads(args.mixture_weights), args.token_budget,
            key_cols=["doc_id"], seed=args.seed,
        )
        kept = kept.join(taken.select("doc_id"), "doc_id", "left_semi").cache()
        n_mixed = kept.count()
        if args.funnel:
            funnel["mixture"] = n_mixed
        release_held()
        stage_cache.unpersist()
        stage_cache = kept

    # 5. split + shard packing (shards numbered within each split)
    split = with_hash_split(kept, ["doc_id"], args.test_fraction, seed=args.seed)
    out = None
    for part in ("train", "test"):
        packed = pack_shards(
            split.filter(F.col("split") == part),
            "doc_id",
            "n_chars",
            args.shard_chars,
        )
        out = packed if out is None else out.unionByName(packed)

    out.write.mode("overwrite").partitionBy("split").parquet(args.output)
    release_held()  # operator caches (packing's range caches) served the write
    stage_cache.unpersist()
    final = spark.read.parquet(args.output)
    funnel["output"] = final.count()
    funnel["train_shards"] = (
        final.filter("split = 'train'").agg(F.countDistinct("shard_id")).first()[0]
    )
    print(json.dumps({
        "job": "corpus_filter",
        "funnel": funnel,
        "wall_s": round(time.time() - t0, 2),
    }))


if __name__ == "__main__":
    main()
