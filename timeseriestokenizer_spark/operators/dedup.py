"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, and n-gram Jaccard verification.

Scale notes (the 100TB story):
* exact dedup groups on a 64-bit content hash, not the raw text — the shuffle
  carries 8-byte keys; only within-hash-group ties touch full text.
* all string semantics (tokenization, md5 shingle/word hashing) stay Catalyst
  in the cached shingle tables; the permutation/vote ARITHMETIC over those
  int64 hashes runs as vectorized numpy per Arrow batch (guide §4.2 — the
  interpreted HOF forms cost seconds where the math is milliseconds), so
  only integer arrays ever cross the Python boundary.
* LSH banding turns O(n²) similarity into a self-equi-join on
  (band_id, band_signature) — shuffle-partitioned by band key, so candidate
  generation is linear in docs + quadratic only within a bucket.
* the exact-Jaccard verify runs only on LSH candidates (tiny).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..session import free_checkpoint, hold, hold_checkpoint


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep-first exact dedup: one keeper (min id) per distinct text.
    Returns (keeper id, n_copies). Groups by md5(text) — a 32-char hex key
    on the shuffle instead of the wide text column; md5 collisions are
    treated as equality (probability ~n²/2^128, negligible below ~10^18
    documents; use exact_dedup_verified when that is not acceptable)."""
    return (
        df.select(F.col(id_col), F.md5(text_col).alias("_h"))
        .groupBy("_h")
        .agg(
            F.min(id_col).alias(f"keeper_{id_col}"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("_h")
    )


def exact_dedup_verified(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Collision-proof exact dedup: group by (xxhash64, md5) of the text —
    two independent hash families must BOTH collide to merge distinct
    documents. The shuffle key is still fixed-width (8 bytes + 32 hex); the
    text column never rides the shuffle."""
    return (
        df.select(
            F.col(id_col), F.xxhash64(text_col).alias("_h1"), F.md5(text_col).alias("_h2")
        )
        .groupBy("_h1", "_h2")
        .agg(
            F.min(id_col).alias(f"keeper_{id_col}"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("_h1", "_h2")
    )


def word_shingles(text_col="text", k: int = 3):
    """k-word shingles as an array<string> (Catalyst expression)."""
    words = F.split(F.lower(F.trim(text_col)), r"\s+")
    n = F.size(words)
    return F.when(n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.concat_ws(" ", F.slice(words, i, k)),
        )
    ).otherwise(F.array(F.concat_ws(" ", words)))


MINHASH_P = 2147483647  # Mersenne prime 2^31 - 1
MINHASH_A = [1103, 12289, 52361, 97843, 331337, 745499]
MINHASH_B = [7, 131, 2971, 40087, 524287, 1299709]


def shingle_hashes(shingles_col):
    """One md5 per shingle → 60-bit prefix as int64 (the expensive hashing,
    done exactly once — the cached shingle table materializes it). 60 bits
    keep within-document collision odds ~1e-11; downstream everything (set
    semantics, signatures, Jaccard) runs on these ints, never the strings —
    at scale the cached int arrays are ~10x smaller than shingle strings."""
    return F.transform(
        shingles_col,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )


def minhash_from_hashes(hs_col, n_hashes: int = 6):
    """MinHash signatures from precomputed shingle hashes: n_hashes
    universal-hash permutations h_j = (a_j*h + b_j) mod P, P = 2^31-1 —
    pure int64 arithmetic, so extra seeds are ~free instead of a fresh md5
    per (shingle, seed) as in the naive family (6x less hashing; a_j*h
    stays < 2^62, no overflow). md5 + mod arithmetic are engine-portable,
    so oracles reproduce the signatures exactly."""
    assert n_hashes <= len(MINHASH_A)
    a_arr = F.array(*[F.lit(a).cast("long") for a in MINHASH_A[:n_hashes]])
    b_arr = F.array(*[F.lit(b).cast("long") for b in MINHASH_B[:n_hashes]])
    p = F.lit(MINHASH_P).cast("long")
    return F.transform(
        F.sequence(F.lit(1), F.lit(n_hashes)),
        lambda j: F.array_min(
            F.transform(
                hs_col,
                lambda h: (
                    F.element_at(a_arr, j.cast("int")) * (h % p)
                    + F.element_at(b_arr, j.cast("int"))
                )
                % p,
            )
        ),
    )


def minhash_signature(shingles_col, n_hashes: int = 6):
    """Signature straight from shingles (compatibility form; the pipeline
    materializes shingle_hashes in the cached table instead so the md5 pass
    is guaranteed single-evaluation)."""
    return minhash_from_hashes(shingle_hashes(shingles_col), n_hashes)


def shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    parallelism: int | None = None,
) -> DataFrame:
    """(id, hs) with the DISTINCT 60-bit hashes of the k-word shingles.
    Cached (``session.hold``; the caller releases it with
    ``session.release_held()`` after its consuming action): every
    downstream stage (signatures, banding self-join, Jaccard verify)
    reuses it — without this, Catalyst re-evaluates the md5/shingle
    expressions on BOTH sides of the self-join (4x the hashing at scale).
    Only the int hashes are kept: raw shingle strings never leave the one
    projection that builds them (cache ~10x smaller, intersections on int64).

    ``parallelism``: repartition before the (expensive) shingle/md5
    expressions. The scan inherits the source's split count — a single-row-
    group file (the classic small-files problem) pins ALL hashing to one
    task (measured 23 s single-task vs ~1 s spread on 5k docs). The shuffle
    moves only raw text once; leave None when the source already has enough
    splits."""
    if parallelism:
        df = df.repartition(parallelism, id_col)
    return hold(df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingle_hashes(word_shingles(text_col, k))).alias("hs"),
    ))


def _bands_from_sets(
    sets_: DataFrame, n_hashes: int, n_bands: int, max_bucket: int | None = None
) -> DataFrame:
    """Candidate pairs (id_a < id_b) from banded minhash signatures.

    ``max_bucket`` (opt-in): exclude band buckets holding more than this
    many docs from the self-join. A single degenerate band value shared by
    m docs yields m²/2 candidates — one viral boilerplate string shared by
    1M docs is 5·10¹¹ pairs, the way an LSH self-join dies at corpus scale.
    Capping trades recall ONLY on pairs whose every matching band is hot
    (typically boilerplate/empty content, which exact_dedup upstream in the
    funnel already collapsed); normal near-dup pairs keep their rare bands.
    None (default) = exact blocking, what the contract oracles reproduce."""
    rows_per_band = n_hashes // n_bands
    # signature + banding vectorized in numpy per Arrow batch (guide §4.2):
    # the nested-HOF form (transform×array_min per permutation, then a
    # slice/concat per band) runs interpreted — HOFs never enter codegen —
    # and cost ~1.2 s at 5k docs where the arithmetic itself is
    # milliseconds. Identical output: same universal-hash permutations on
    # the same 60-bit shingle hashes (pure int64 math, bit-equal in
    # numpy), and band_sig strings are str(int) exactly like the former
    # cast-to-string concat_ws. The md5 shingle hashing stays Catalyst in
    # the cached shingle table upstream (still hashed exactly once).
    id_type = sets_.schema["id"].dataType.simpleString()
    a_coefs, b_coefs = MINHASH_A[:n_hashes], MINHASH_B[:n_hashes]

    def _band_rows(it):
        import numpy as np
        import pandas as pd

        A = np.array(a_coefs, dtype=np.int64)[:, None]
        B = np.array(b_coefs, dtype=np.int64)[:, None]
        P = np.int64(MINHASH_P)
        for pdf in it:
            ids, bids, bsigs = [], [], []
            for i, hs in zip(pdf["id"], pdf["hs"]):
                h = np.asarray(hs, dtype=np.int64)
                if len(h):
                    sig = ((A * (h[None, :] % P) + B) % P).min(1)
                for bi in range(n_bands):
                    ids.append(i)
                    bids.append(bi)
                    # concat_ws drops nulls: an empty shingle set's bands
                    # were "" under the expression form — keep that
                    bsigs.append(
                        "|".join(
                            str(int(v))
                            for v in sig[bi * rows_per_band:(bi + 1) * rows_per_band]
                        )
                        if len(h)
                        else ""
                    )
            yield pd.DataFrame({"id": ids, "band_id": bids, "band_sig": bsigs})

    bands = hold(sets_.select("id", "hs").mapInPandas(
        _band_rows, f"id {id_type}, band_id int, band_sig string"
    ))
    if max_bucket is not None:
        hot = (
            bands.groupBy("band_id", "band_sig")
            .count()
            .filter(F.col("count") > max_bucket)
            .select("band_id", "band_sig")
        )
        bands = bands.join(F.broadcast(hot), ["band_id", "band_sig"], "left_anti")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 6,
    n_bands: int = 3,
    parallelism: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b), deduplicated across bands.
    rows_per_band = n_hashes / n_bands. ``max_bucket``: see
    _bands_from_sets (hot-bucket guard for corpus-scale skew)."""
    return _bands_from_sets(
        shingle_sets(df, id_col, text_col, k, parallelism), n_hashes, n_bands,
        max_bucket,
    )


def jaccard_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 6,
    n_bands: int = 3,
    threshold: float = 0.5,
    parallelism: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard over the
    60-bit-hashed shingle sets (only candidates pay the intersection;
    hashing collisions perturb Jaccard by ~1e-11 — the standard trade at
    scale, where raw shingle strings are never materialized twice).
    ``max_bucket``: see _bands_from_sets (hot-bucket guard)."""
    sets_ = shingle_sets(df, id_col, text_col, k, parallelism)
    cands = _bands_from_sets(sets_, n_hashes, n_bands, max_bucket)
    return _verify_jaccard(cands, sets_, threshold)


def _verify_jaccard(cands: DataFrame, sets_: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard over the hashed shingle sets, applied to candidate
    (id_a, id_b) pairs only — the verify stage shared by the MinHash-LSH
    and prefix-filter candidate generators."""
    return (
        cands.join(sets_.withColumnRenamed("id", "id_a").withColumnRenamed("hs", "hs_a"), "id_a")
        .join(sets_.withColumnRenamed("id", "id_b").withColumnRenamed("hs", "hs_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("hs_a") + F.size("hs_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    parallelism: int | None = None,
    order: str = "hash",
    max_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join — every pair with Jaccard >=
    threshold over k-word shingle sets, no LSH recall loss (the exact
    counterpart of jaccard_verified_pairs, whose MinHash banding can miss
    borderline pairs with probability 1-(1-s^r)^b).

    Scale path: prefix filtering (Chaudhuri et al. SSJoin / Bayardo et al.
    All-Pairs). With shingle hashes in a global canonical order (ascending
    int64 — effectively random), a pair with J(A,B) >= t MUST share a hash
    within the first |x| - ceil(t*|x|) + 1 hashes of each side (pigeonhole:
    J >= t implies |A∩B| >= ceil(t*max(|A|,|B|))), so the candidate
    equi-join explodes only the prefixes — at t=0.5 that is ~half of each
    set, and the zero-overlap pairs (the overwhelming majority of a corpus)
    are never materialized. Candidates then pay one exact intersection
    against the cached full sets. ``order``: "hash" (default) — ascending
    int64 prefixes, a seedless approximation of random order, scan-local;
    "df" — the classic All-Pairs ascending-document-frequency order, so
    prefixes hold the RAREST shingles (fewer candidates on heavy-tailed
    corpora, two extra shuffles). Correctness is unconditional under ANY
    global total order.

    ``max_df`` (hot-shingle guard, the prefix-filter twin of MinHash's
    ``max_bucket``): prefix hashes whose document frequency exceeds it are
    EXCLUDED from candidate generation. A shingle shared by d docs
    contributes ~d^2/2 candidate rows — one viral boilerplate shingle at
    d=10^5 is 5*10^9 rows, the quadratic blow-up that flooded 29 GB of
    shuffle on a dense-vocab 50k-doc corpus (BENCH/sf1 round 4). The trade
    is EXACTNESS: a pair whose prefix overlap consists ONLY of excluded
    hot shingles is missed (boilerplate-only similarity — usually exactly
    what dedup wants to ignore); pairs sharing any rarer prefix shingle
    are still found and still exactly verified. None (default) keeps the
    lossless guarantee."""
    sets_ = shingle_sets(df, id_col, text_col, k, parallelism)
    pref_len = (F.size("hs") - F.ceil(F.lit(float(threshold)) * F.size("hs")) + 1).cast("int")
    pref = sets_.select(
        "id", F.explode(F.slice(F.array_sort("hs"), F.lit(1), pref_len)).alias("h")
    )
    if max_df is not None and order != "df":
        hot = (
            pref.groupBy("h").agg(F.count(F.lit(1)).alias("df_h"))
            .filter(F.col("df_h") > int(max_df))
            .select("h")
        )
        pref = pref.join(hot, "h", "left_anti")
    if order == "df":
        # All-Pairs refinement: a GLOBAL order by ascending document
        # frequency puts the RAREST shingles in every prefix, so hot
        # shingles (boilerplate trigrams) mostly fall outside prefixes and
        # candidate volume drops. Any total order preserves exactness —
        # (df, h) is one — at the price of a df-count aggregate and a
        # rank window per doc. Worth it when the corpus has heavy-tailed
        # shingle frequencies; the default hash order costs two fewer
        # shuffles and is within noise on uniform corpora (A/B in
        # BENCH/PLANS.md §4d).
        ex = sets_.select(
            "id", F.size("hs").alias("sz"), F.explode("hs").alias("h")
        )
        dfc = ex.groupBy("h").agg(F.count("*").alias("df_h"))
        w = W.partitionBy("id").orderBy("df_h", "h")
        pref = (
            ex.join(dfc, "h")
            .withColumn("rk", F.row_number().over(w))
            .filter(
                F.col("rk")
                <= (F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1)
            )
        )
        if max_df is not None:
            # reuse the df counts already joined for the ordering
            pref = pref.filter(F.col("df_h") <= int(max_df))
        pref = pref.select("id", "h")
    cands = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _verify_jaccard(cands, sets_, threshold)


def simhash32(text_col="text"):
    """32-bit SimHash over whitespace tokens, token hash = first 8 md5 hex
    digits (portable). Bit b set iff the signed token-count sum is > 0.

    Single pass: one aggregate carries a 32-slot vote vector, so each word is
    md5-hashed exactly once. (The naive 32-separate-aggregates form
    re-evaluates the md5 transform per bit — 32x the hashing; measured 10.9 s
    → ~1 s on the sf0.1 documents table.)"""
    words = F.split(F.lower(F.trim(text_col)), r"\s+")
    hashes = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
    )
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(32)])

    def _vote(acc, h):
        return F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        )

    votes = F.aggregate(
        hashes, F.array_repeat(F.lit(0).cast("long"), 32), _vote
    )
    return F.aggregate(
        F.zip_with(
            votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_table(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_bits: int = 32,
    out_col: str = "sh",
) -> DataFrame:
    """(id, simhash) with the bit votes vectorized in numpy (guide §4.2).

    The expression form's per-word vote is an interpreted
    aggregate×zip_with allocating a fresh n_bits-slot array per WORD
    (~32M lambda evals + 1M allocs on the 5k-doc fixture, >1 s where the
    arithmetic is milliseconds). Tokenization and the md5 word hashes stay
    Catalyst — Java regex \\s+ and UTF8String lowercasing never cross into
    Python, only int64 hash arrays do — and the vote/majority/assemble
    math is exact integer arithmetic, identical in numpy."""
    words = F.split(F.lower(F.trim(text_col)), r"\s+")
    n_hex = {32: 8, 60: 15}[n_bits]
    hashes = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, n_hex), 16, 10).cast("long")
    )
    id_type = df.schema[id_col].dataType.simpleString()
    base = df.select(F.col(id_col).alias("id"), hashes.alias("hs"))

    def _vote(it):
        import numpy as np
        import pandas as pd

        bits = np.arange(n_bits, dtype=np.int64)
        for pdf in it:
            out = np.zeros(len(pdf), dtype=np.int64)
            null = pdf["hs"].isna().to_numpy()  # NULL text: NULL simhash
            for i, hs in enumerate(pdf["hs"]):
                if null[i]:
                    continue
                h = np.asarray(hs, dtype=np.int64)
                if len(h):
                    votes = (((h[:, None] >> bits) & 1) * 2 - 1).sum(0)
                    out[i] = int(((votes > 0).astype(np.int64) << bits).sum())
            yield pd.DataFrame(
                {"id": pdf["id"], out_col: pd.arrays.IntegerArray(out, null)}
            )

    return base.mapInPandas(_vote, f"id {id_type}, {out_col} long")


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs by Hamming distance, blocked on exact-match
    bands: the 32-bit hash is split into ``n_bands`` contiguous bit bands
    (8 bits each for the default 4). Pigeonhole: a pair at Hamming distance
    ``d`` flips bits in at most ``d`` bands, so with ``n_bands > max_hamming``
    at least one band is UNTOUCHED and the pair is guaranteed to collide
    there — the blocking is lossless for Hamming ≤ max_hamming (the earlier
    2-half-band form silently missed e.g. a 2+1 split across halves).

    Plan shape: explode each doc to its (band_id, band_val) rows, then a
    single self EQUI-join on both columns — a shuffle/broadcast hash join on
    a ≤(2+8)-bit key. (An OR-of-band-equalities predicate has no extractable
    equi-key and compiles to BroadcastNestedLoopJoin, O(n²) at scale —
    test_plan_shapes pins the hash-join form.) The simhash table is cached
    so the per-word md5 pass runs once, not once per self-join side."""
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands={n_bands} must exceed max_hamming={max_hamming} for "
            "the exact-match banding to be lossless (pigeonhole)"
        )
    bits_per = 32 // n_bands
    mask = (1 << bits_per) - 1
    s = hold(simhash_table(df, id_col, text_col, n_bits=32))
    bands = s.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright("sh", b * bits_per)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("id", "sh", "band.band_id", "band.band_val")
    if max_bucket is not None:
        # hot-bucket guard (same trade as _bands_from_sets): a band value
        # shared by m docs is m²/2 candidates; degenerate content (empty/
        # boilerplate docs hashing to the same simhash) makes one bucket
        # quadratic at corpus scale. Dropping buckets > max_bucket keeps
        # the lossless guarantee for every pair that retains a cold band.
        hot = (
            bands.groupBy("band_id", "band_val")
            .count()
            .filter(F.col("count") > max_bucket)
            .select("band_id", "band_val")
        )
        bands = bands.join(F.broadcast(hot), ["band_id", "band_val"], "left_anti")
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    return (
        cands.withColumn("hamming", F.bit_count(xor))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _star_rounds(edges: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", two-phase algorithm):

    * large-star(u): every neighbor v > u re-points to m = min(Γ(u) ∪ {u})
    * small-star(u): u and all smaller neighbors re-point to m = min(Γ⁻(u))

    Each round is two join+agg passes over the (shrinking) edge list;
    converges in O(log n) rounds on ANY graph shape — the deep-chain case
    where diameter-bounded min-label propagation needs O(diameter) rounds.
    Input: directed edges src > dst, no self-loops, over a short lineage
    (connected_components checkpoints them first). Returns the converged
    star edges (src > dst = component min) and the round count.

    Each round ends in an eager localCheckpoint: iterative plans DOUBLE per
    round (the symmetric union + two joins reference the previous round
    twice) and caching alone does not truncate the logical plan — by ~12
    rounds Catalyst planning alone OOMs the driver. Checkpointing resets the
    lineage to a leaf. (On a real cluster prefer spark.checkpoint with a
    reliable dir — a localCheckpoint's blocks die with their executor and
    a later read of them fails; same truncation semantics.) A round's
    checkpoint is dropped as soon as the next round supersedes it; the
    converged one is left to ``session.release_held``, since the caller's
    result reads it."""
    e = edges
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star over symmetric neighborhoods
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least("mn", "src").alias("m"))
        )
        large = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star over the (src > dst)-directed edges
        smins = large.groupBy("src").agg(F.min("dst").alias("m"))
        small = (
            large.join(smins, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(smins.select("src", F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .transform(hold_checkpoint)
        )
        changed = (
            small.exceptAll(e).limit(1).count() + e.exceptAll(small).limit(1).count()
        )
        if e is not edges:
            free_checkpoint(e)
        e = small
        if changed == 0:
            break
    return e, rounds


def simhash60(text_col="text"):
    """60-bit SimHash (token hash = first 15 md5 hex digits — stays inside a
    signed int64, the same trick as shingle_hashes), single-pass 60-slot
    vote. The 32-bit simhash32 is the oracle-checked default; this one
    exists for corpus-scale near-pair search where 32 bits saturate
    (birthday collisions ~2^16 docs) and 8-bit bands stop filtering."""
    words = F.split(F.lower(F.trim(text_col)), r"\s+")
    hashes = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")
    )
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(60)])

    def _vote(acc, h):
        return F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        )

    votes = F.aggregate(hashes, F.array_repeat(F.lit(0).cast("long"), 60), _vote)
    return F.aggregate(
        F.zip_with(
            votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_near_pairs_deep(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    n_blocks: int = 6,
    max_bucket: int | None = None,
) -> DataFrame:
    """Corpus-scale SimHash near-pairs: 60-bit fingerprint + BLOCK-COMBINATION
    blocking (Manku/Jain/Das Sarma, "Detecting Near-Duplicates for Web
    Crawling", WWW'07 §3): split the hash into ``n_blocks`` blocks and use
    every (n_blocks - max_hamming)-subset of blocks as an exact-match key.
    A pair at Hamming ≤ d flips bits in ≤ d blocks, leaving ≥ n_blocks - d
    untouched — so at least one subset matches completely: lossless recall,
    like the 4x8-bit scheme, but each key carries (n_blocks-d)/n_blocks of
    the hash bits (30 of 60 for 6C3) instead of 8 of 32, so bucket sizes
    stay ~n/2^30 instead of ~n/2^8 — the difference between linear and
    quadratic candidate generation at 10^8+ docs. Cost: C(n_blocks, d)
    keys per doc (20 for 6 choose 3) on the explode, still one equi-join.

    Engine-tested (pytest recall + plan shape); the oracle-checked contract
    row stays on the 32-bit variant whose arithmetic DuckDB reproduces.

    ``max_bucket`` (hot-bucket guard, same trade as the 32-bit variant's):
    (combo_id, combo_key) buckets larger than it are dropped from candidate
    generation. d exact-duplicate fingerprints (viral boilerplate) share
    EVERY combo key, costing C(n_blocks,d)*d^2/2 candidate rows unguarded;
    pairs whose only matching combos are viral are missed under the guard —
    run exact dedup first, which is where identical text belongs anyway."""
    from itertools import combinations

    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks={n_blocks} must exceed max_hamming={max_hamming}"
        )
    total_bits = 60
    bits_per = total_bits // n_blocks
    mask = (1 << bits_per) - 1
    keep = n_blocks - max_hamming
    combos = list(combinations(range(n_blocks), keep))
    s = hold(simhash_table(df, id_col, text_col, n_bits=60))

    def _block(b):
        return F.shiftright("sh", b * bits_per).bitwiseAND(F.lit(mask))

    keys = s.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("combo_id"),
                        F.concat_ws(
                            "|", *[_block(b).cast("string") for b in combo]
                        ).alias("combo_key"),
                    )
                    for ci, combo in enumerate(combos)
                ]
            )
        ).alias("k"),
    ).select("id", "sh", "k.combo_id", "k.combo_key")
    if max_bucket is not None:
        hot = (
            keys.groupBy("combo_id", "combo_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > int(max_bucket))
            .select("combo_id", "combo_key")
        )
        keys = keys.join(hot, ["combo_id", "combo_key"], "left_anti")
    a, b = keys.alias("a"), keys.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.combo_id") == F.col("b.combo_id"))
            & (F.col("a.combo_key") == F.col("b.combo_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    return (
        cands.withColumn("hamming", F.bit_count(xor))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    deep: bool = False,
) -> DataFrame:
    """Resolve near-dup pairs into clusters: (doc_id, cluster_id) where
    cluster_id = the minimum id reachable through the pair graph — the step
    a dedup pipeline needs between pair generation and keep-first removal.
    Pairs with a NULL end carry no edge.

    Default (deep=False) — one union-find task: the edge list is shuffled
    into ONE partition and resolved there (ids mapped with numpy, then a
    path-halving union-find, near-linear in the edge count whatever the
    graph's depth). It fires no Spark job while the DataFrame is built and
    its plan does not grow with the graph, but the whole edge list must fit
    in one Python worker — right for near-dup pair lists (a small fraction
    of the corpus); pass deep=True when it does not.

    deep=True — large-star/small-star contraction (_star_rounds): O(log n)
    distributed rounds, each an eager checkpointed job. ``max_iter`` bounds
    those rounds and applies to deep=True only."""
    if deep:
        # self-pairs stay in canon: their id is a node (its own one-doc
        # cluster) even though the star rounds drop the loop edge
        canon = (
            pairs.filter(F.col(id_a).isNotNull() & F.col(id_b).isNotNull())
            .select(
                F.greatest(F.col(id_a), F.col(id_b)).alias("src"),
                F.least(F.col(id_a), F.col(id_b)).alias("dst"),
            )
            .distinct()
            .transform(hold_checkpoint)
        )
        stars, _ = _star_rounds(canon.filter(F.col("src") != F.col("dst")), max_iter)
        members = stars.select(
            F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id")
        )
        nodes = (
            canon.select(F.col("src").alias("doc_id"))
            .unionByName(canon.select(F.col("dst").alias("doc_id")))
            .distinct()
        )
        # converged stars point every non-root node at its component min;
        # roots and self-pair-only ids label themselves
        return nodes.join(members, "doc_id", "left").select(
            "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
        )
    id_type = pairs.schema[id_a].dataType.simpleString()
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )

    def _union_find(it):
        import numpy as np
        import pandas as pd

        chunks = list(it)
        if not chunks:
            return
        a = np.concatenate([c["a"].to_numpy() for c in chunks])
        b = np.concatenate([c["b"].to_numpy() for c in chunks])
        # sorted unique ids: a smaller index is a smaller id, so linking
        # every root under the smaller one leaves each component's root at
        # its minimum id
        ids, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
        parent = list(range(len(ids)))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in zip(idx[: len(a)].tolist(), idx[len(a):].tolist()):
            ru, rv = find(u), find(v)
            if ru < rv:
                parent[rv] = ru
            elif rv < ru:
                parent[ru] = rv
        roots = np.fromiter((find(x) for x in range(len(ids))), np.int64, len(ids))
        yield pd.DataFrame({"doc_id": ids, "cluster_id": ids[roots]})

    return edges.repartition(1).mapInPandas(
        _union_find, f"doc_id {id_type}, cluster_id {id_type}"
    )


def dedup_survivors(
    docs: DataFrame, pairs: DataFrame, id_col: str, max_iter: int = 20,
    deep: bool = False,
) -> DataFrame:
    """Keep-first near-dup removal: drop every clustered doc except its
    cluster's min id (docs not in any pair survive untouched). Pass
    deep=True when the pair list does not fit one Python worker (see
    connected_components)."""
    clusters = connected_components(pairs, max_iter=max_iter, deep=deep)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    parallelism: int | None = None,
) -> DataFrame:
    """Train/eval CONTAMINATION screening: for each eval doc, the fraction
    of its DISTINCT k-word shingles that appear anywhere in the training
    corpus — the decontamination check a pretraining pipeline runs before
    trusting a benchmark number (an eval doc near 1.0 leaked into train).

    Scale shape: the training side reduces to DISTINCT 60-bit shingle
    hashes (fixed-width ints, never text) and the check is one semi-join
    from exploded eval shingles — linear shuffle in corpus size; eval sets
    are typically small enough that AQE broadcasts them. No Python in the
    plan. Returns (id_col, n_shingles, contamination)."""
    tr = (
        shingle_sets(train, id_col, text_col, k, parallelism)
        .select(F.explode("hs").alias("h"))
        .distinct()
    )
    ev = shingle_sets(eval_df, id_col, text_col, k)
    hits = (
        ev.select("id", F.explode("hs").alias("h"))
        .join(tr, "h", "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        ev.select("id", F.size("hs").alias("n_shingles"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_shingles"), 6
            ).alias("contamination"),
        )
    )


def span_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    w: int = 3,
    parallelism: int | None = None,
) -> DataFrame:
    """VERBATIM-SPAN contamination: per eval doc, the longest run of
    consecutive w-gram positions whose grams all appear in the training
    corpus — in tokens. ngram_contamination answers "what FRACTION of
    eval shingles leaked"; a long verbatim quote inside a long doc
    dilutes that fraction while still being a disqualifying leak. This is
    the companion check real decontamination runs (e.g. the 'verbatim
    overlap of >= N tokens' rule): a max_span_tokens at or near the doc
    length is a copy, regardless of the fraction.

    Same linear scale shape as ngram_contamination: train reduces to
    DISTINCT 60-bit gram hashes (ints, never text), eval grams explode
    WITH POSITION, one semi-join marks contaminated positions, and a
    gaps-and-islands window (pos - row_number) finds the longest
    consecutive run per doc. No Python anywhere in the plan.

    Returns (id_col, n_grams, n_hit, max_span_tokens); span converts from
    gram-run length L to tokens as min(L + w - 1, n_words) — the min
    handles the shorter-than-w doc branch, whose single whole-text gram
    can only ever span the doc itself.

    The positional eval side is cached (``session.hold``). It is the BIG
    corpus when a decontamination job swaps roles (train docs screened
    against an eval set), so a long-lived job calls
    ``session.release_held()`` after the consuming action."""
    from pyspark.sql import Window as W

    tr = (
        shingle_sets(train, id_col, text_col, w, parallelism)
        .select(F.explode("hs").alias("h"))
        .distinct()
    )
    if parallelism:
        # same single-row-group trap as shingle_sets: without a spread the
        # eval side's positional md5 hashing pins to the source's (often
        # one) scan task — measured 7.1 s -> sub-second at sf0.1
        eval_df = eval_df.repartition(parallelism, id_col)
    words = F.split(F.lower(F.trim(text_col)), r"\s+")
    # cached for the same reason as shingle_sets: the positional explode
    # AND the final all-docs base both read it — uncached, the eval-side
    # md5 hashing runs twice (once per side of the left join)
    ev = hold(eval_df.select(
        F.col(id_col).alias("id"),
        F.size(words).alias("n_words"),
        shingle_hashes(word_shingles(text_col, w)).alias("hp"),
    ))
    pos = ev.select(
        "id", F.posexplode("hp").alias("pos", "h")
    ).join(tr, "h", "left_semi")
    isl = pos.withColumn(
        "grp", F.col("pos") - F.row_number().over(W.partitionBy("id").orderBy("pos"))
    )
    runs = (
        isl.groupBy("id", "grp")
        .agg(F.count(F.lit(1)).alias("run"))
        .groupBy("id")
        .agg(F.max("run").alias("max_run"), F.sum("run").alias("n_hit"))
    )
    return (
        ev.select("id", "n_words", F.size("hp").alias("n_grams"))
        .join(runs, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.when(
                F.col("max_run").isNull(), F.lit(0)
            ).otherwise(
                F.least(F.col("max_run") + F.lit(w - 1), F.col("n_words"))
            ).cast("long").alias("max_span_tokens"),
        )
    )


def jaccard_topk(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k_shingle: int = 3,
    n_hashes: int = 6,
    n_bands: int = 3,
    k: int = 5,
    parallelism: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Text k-NN: each doc's ``k`` most-similar docs by exact Jaccard among
    its MinHash-LSH candidates (the text-side twin of similarity.lsh_topk).
    Candidates come from the banded equi-join (linear shuffle), similarity
    from one intersection per candidate; ranking is a per-doc window over
    the candidate list, which LSH keeps small. Ties rank by the 6-dp
    ROUNDED similarity then candidate id, so ordering is reproducible
    across engines. Returns (query_id, cand_id, jaccard, rank); docs with
    no candidate (nothing similar anywhere) are absent, which is the
    correct k-NN-with-radius semantics at corpus scale."""
    pairs = jaccard_verified_pairs(
        df, id_col, text_col, k_shingle, n_hashes, n_bands,
        threshold=0.0, parallelism=parallelism, max_bucket=max_bucket,
    )
    sym = pairs.select(
        F.col("id_a").alias("query_id"), F.col("id_b").alias("cand_id"), "jaccard"
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("query_id"), F.col("id_a").alias("cand_id"), "jaccard"
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("jaccard"), "cand_id")
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "jaccard", F.col("rank").cast("long").alias("rank"))
    )
