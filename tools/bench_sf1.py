"""sf1 scale validation of the corpus operators (VERDICT r3 item 1).

The dedup/similarity suite is correctness-proven at sf0.01 and benchmarked
at sf0.1 (5k docs); this harness WATCHES it scale: the same operators run
on a 5k-doc and a 50k-doc corpus (10x) of the adversarial shape described
in datagen_spark.documents_spark (heavy-tailed lengths, known dup groups,
one viral boilerplate bucket), recording wall time, output counts, the
wall ratio vs the 10x data ratio, per-stage task counts (no single-task
stages), and the hot-bucket guard's effect on the boilerplate bucket.

    python tools/bench_sf1.py            # writes BENCH/sf1_latest.json
    SPARK_SF1_DOCS=100000 python tools/bench_sf1.py   # bigger HI level

Corpora are written to $SPARK_SF1_PATH (default /tmp/spark_graft_sf1) and
reused when a _SUCCESS marker exists, so operator timings measure scans of
on-disk parquet, not generation. Run on an otherwise idle host (same
caveat as tools/bench_scaling.py).

Stage-task evidence: the Spark UI REST API (ui enabled for this session)
reports numTasks per completed stage; for every operator we record the
minimum and maximum stage width over the stages its job ran. Single-task
stages that merely collect tiny driver-side results (bounded dimension
collects, AQE-coalesced final maps of KB-sized outputs) are EXPECTED; the
check that matters — and is recorded per op — is that no SCAN or JOIN
stage over the corpus runs single-task at the HI level.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SPARK_SF1_PATH", "/tmp/spark_graft_sf1")
LO_DOCS = int(os.environ.get("SPARK_SF1_LO_DOCS", "5000"))
HI_DOCS = int(os.environ.get("SPARK_SF1_DOCS", "50000"))
LO_VECS, HI_VECS = LO_DOCS * 2 // 5, HI_DOCS * 2 // 5


def ensure_corpus(spark, n_docs: int, n_vecs: int, path: str) -> None:
    from timeseriestokenizer_spark.datagen_spark import documents_spark, embeddings_spark

    if not os.path.exists(os.path.join(path, "documents", "_SUCCESS")):
        documents_spark(spark, n_docs).write.mode("overwrite").parquet(
            os.path.join(path, "documents")
        )
    if not os.path.exists(os.path.join(path, "embeddings", "_SUCCESS")):
        embeddings_spark(spark, n_vecs).write.mode("overwrite").parquet(
            os.path.join(path, "embeddings")
        )


def stage_stats(ui_port: int, since_stage: int) -> dict:
    """numTasks min/max over completed stages newer than ``since_stage``."""
    try:
        with urllib.request.urlopen(
            f"http://localhost:{ui_port}/api/v1/applications", timeout=5
        ) as r:
            app_id = json.load(r)[0]["id"]
        with urllib.request.urlopen(
            f"http://localhost:{ui_port}/api/v1/applications/{app_id}/stages?status=complete",
            timeout=5,
        ) as r:
            stages = json.load(r)
    except Exception as ex:  # UI off / port taken: evidence degrades, run continues
        return {"err": str(ex)[:80]}
    ours = [s for s in stages if s["stageId"] > since_stage]
    if not ours:
        return {}
    widths = [s["numTasks"] for s in ours]
    return {
        "n_stages": len(ours),
        "min_tasks": min(widths),
        "max_tasks": max(widths),
        "single_task_stages": sum(1 for w in widths if w == 1),
        "max_stage_id": max(s["stageId"] for s in ours),
    }


def run_ops(spark, path: str, ui_port: int) -> dict:
    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.operators.dedup import (
        connected_components,
        jaccard_verified_pairs,
        ngram_jaccard_pairs,
        simhash_near_pairs_deep,
        span_contamination,
    )
    from timeseriestokenizer_spark.operators.similarity import (
        ivf_topk,
        train_centroids,
    )
    from timeseriestokenizer_spark.session import release_held

    docs = spark.read.parquet(os.path.join(path, "documents"))
    vecs = spark.read.parquet(os.path.join(path, "embeddings"))
    dp = spark.sparkContext.defaultParallelism
    out: dict[str, dict] = {}
    last_stage = -1

    def timed(name, fn):
        nonlocal last_stage
        t0 = time.time()
        res = fn()
        rec = {"wall_s": round(time.time() - t0, 2), **res}
        release_held()  # operator-internal caches served the count
        st = stage_stats(ui_port, last_stage)
        last_stage = st.pop("max_stage_id", last_stage)
        rec["stages"] = st
        out[name] = rec
        print(f"  {name}: {json.dumps(rec)}", flush=True)

    timed(
        "minhash_pairs",
        lambda: {
            "n_pairs": jaccard_verified_pairs(
                docs, "doc_id", threshold=0.5, parallelism=dp
            ).count()
        },
    )
    timed(
        "minhash_pairs_guarded",
        lambda: {
            "n_pairs": jaccard_verified_pairs(
                docs, "doc_id", threshold=0.5, parallelism=dp, max_bucket=200
            ).count()
        },
    )
    timed(
        "ngram_jaccard_df",
        lambda: {
            "n_pairs": ngram_jaccard_pairs(
                docs, "doc_id", threshold=0.5, parallelism=dp, order="df"
            ).count()
        },
    )
    timed(
        "ngram_jaccard_df_guarded",
        lambda: {
            "n_pairs": ngram_jaccard_pairs(
                docs, "doc_id", threshold=0.5, parallelism=dp, order="df",
                max_df=200,
            ).count()
        },
    )
    timed(
        "simhash_deep",
        lambda: {
            "n_pairs": simhash_near_pairs_deep(docs, "doc_id", max_hamming=3).count()
        },
    )
    timed(
        "simhash_deep_guarded",
        lambda: {
            "n_pairs": simhash_near_pairs_deep(
                docs, "doc_id", max_hamming=3, max_bucket=200
            ).count()
        },
    )

    pairs = jaccard_verified_pairs(
        docs, "doc_id", threshold=0.5, parallelism=dp, max_bucket=200
    ).cache()
    pairs.count()  # materialize outside the timed region
    timed(
        "dedup_clusters_deep",
        lambda: {
            "n_clustered": connected_components(pairs, deep=True).count()
        },
    )
    pairs.unpersist()

    timed(
        "span_contamination",
        lambda: {
            "n_eval_docs": span_contamination(
                docs.filter(F.col("doc_id") % 2 == 0),
                docs.filter(F.col("doc_id") % 2 == 1),
                "doc_id", w=3, parallelism=dp,
            ).count()
        },
    )

    # late-round-5 corpus operators: watch the same 10x ratio
    from timeseriestokenizer_spark.functions.features import hashing_tf
    from timeseriestokenizer_spark.functions.sampling import mixture_take
    from timeseriestokenizer_spark.functions.textstats import oov_rate
    from timeseriestokenizer_spark.operators.collocations import collocation_lift

    timed(
        "hashing_tf",
        lambda: {"n_rows": hashing_tf(docs, n_features=1024).count()},
    )
    timed(
        "collocations",
        lambda: {"n_rows": collocation_lift(docs, min_count=5, k=100).count()},
    )
    timed(
        "oov_rate",
        lambda: {
            "n_rows": oov_rate(
                docs.filter(F.col("doc_id") % 2 == 0),
                docs.filter(F.col("doc_id") % 2 == 1),
            ).count()
        },
    )

    timed(
        "mixture_take",
        lambda: {
            "n_rows": mixture_take(
                docs, {"web": 2.0, "books": 1.0, "code": 1.0},
                token_budget=200_000, key_cols=["doc_id"],
            ).count()
        },
    )

    cents = train_centroids(vecs, n_cells=32)
    queries = vecs.orderBy("vec_id").limit(100).cache()
    queries.count()
    timed(
        "ivf_topk",
        lambda: {
            "n_results": ivf_topk(vecs, queries, cents, k=10, n_probe=2).count()
        },
    )
    queries.unpersist()
    return out


def main():
    from timeseriestokenizer_spark.session import get_spark

    ui_port = 4049
    spark = get_spark(
        "bench-sf1",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": str(ui_port)},
    )
    levels = {}
    for tag, n_docs, n_vecs in (
        ("lo", LO_DOCS, LO_VECS),
        ("hi", HI_DOCS, HI_VECS),
    ):
        path = os.path.join(BASE, tag)
        ensure_corpus(spark, n_docs, n_vecs, path)
        print(f"level {tag}: {n_docs} docs / {n_vecs} vecs", flush=True)
        levels[tag] = {
            "n_docs": n_docs,
            "n_vecs": n_vecs,
            "ops": run_ops(spark, path, ui_port),
        }

    ratio = HI_DOCS / LO_DOCS
    scaling = {}
    for op in levels["lo"]["ops"]:
        lo_w = levels["lo"]["ops"][op]["wall_s"]
        hi_w = levels["hi"]["ops"][op]["wall_s"]
        scaling[op] = {
            "wall_ratio": round(hi_w / max(lo_w, 1e-9), 2),
            "data_ratio": ratio,
        }
    result = {
        "measured_at": datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S"),
        "levels": levels,
        "scaling": scaling,
        "protocol": "same ops, same session, lo then hi; corpora on disk "
        "(generation untimed); counts are full materializations",
    }
    art = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "sf1_latest.json",
    )
    with open(art, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({"artifact": art, "scaling": scaling}))


if __name__ == "__main__":
    main()
