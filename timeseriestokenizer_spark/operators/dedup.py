"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, and n-gram Jaccard verification.

Scale notes (the 100TB story):
* exact dedup groups on md5(text), not the raw text — the shuffle carries
  a fixed-width key, never the wide text column.
* all string semantics (tokenization, md5 shingle/word hashing) stay Catalyst
  in the cached shingle tables; the permutation/vote ARITHMETIC over those
  int64 hashes runs as vectorized numpy per Arrow batch (guide §4.2 — the
  interpreted HOF forms cost seconds where the math is milliseconds), so
  only integer arrays ever cross the Python boundary.
* every near-duplicate candidate generator (MinHash bands, SimHash block
  combinations, n-gram prefixes) is one blocked self-equi-join,
  ``_blocked_pairs`` — shuffle-partitioned by block key, so candidate
  generation is linear in docs + quadratic only within a block, and its
  opt-in hot-bucket guard bounds that quadratic term.
* the exact Jaccard / Hamming verify runs only on candidates (tiny).
"""

from __future__ import annotations

from functools import reduce
from itertools import combinations
from operator import and_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..session import free_checkpoint, hold, hold_checkpoint


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep-first exact dedup: one keeper (min id) per distinct text.
    Returns (keeper id, n_copies). Groups by md5(text) — a 32-char hex key
    on the shuffle instead of the wide text column; md5 collisions are
    treated as equality (probability ~n²/2^128, negligible below ~10^18
    documents)."""
    return (
        df.select(F.col(id_col), F.md5(text_col).alias("_h"))
        .groupBy("_h")
        .agg(
            F.min(id_col).alias(f"keeper_{id_col}"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("_h")
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
    splits.

    A NULL-text document has no shingle set and no row: word_shingles
    would give it the empty document's one-shingle set [""], making it a
    Jaccard-1.0 near-duplicate of every other NULL or empty document."""
    df = df.filter(F.col(text_col).isNotNull())
    if parallelism:
        df = df.repartition(parallelism, id_col)
    return hold(df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingle_hashes(word_shingles(text_col, k))).alias("hs"),
    ))


def _blocked_pairs(
    keys: DataFrame,
    block: tuple[str, ...],
    max_bucket: int | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Candidate pairs (id_a < id_b) of ``keys`` rows (an ``id`` column
    plus the ``block`` columns) that agree on every ``block`` column — each
    pair once, however many blocks it shares. Each ``carry`` column comes
    back for both sides as ``<col>_a`` / ``<col>_b``.

    One self EQUI-join on the block columns: a shuffle/broadcast hash join,
    linear in rows and quadratic only within a block. (An OR of
    per-block equalities has no extractable equi-key and compiles to a
    BroadcastNestedLoopJoin, O(n²) at scale — test_plan_shapes pins the
    hash-join form.)

    ``max_bucket`` (opt-in hot-bucket guard): blocks holding more than this
    many rows are dropped before the join. One block value shared by m rows
    yields m²/2 candidates — one viral boilerplate string shared by 1M docs
    is 5·10¹¹ pairs, the way a blocked self-join dies at corpus scale.
    Capping trades recall ONLY on pairs whose every shared block is hot
    (typically boilerplate/empty content, which exact_dedup upstream in the
    funnel already collapsed); normal near-dup pairs keep their rare blocks.
    None (default) = exact blocking, what the contract oracles reproduce."""
    if max_bucket is not None:
        hot = (
            keys.groupBy(*block)
            .count()
            .filter(F.col("count") > int(max_bucket))
            .select(*block)
        )
        keys = keys.join(F.broadcast(hot), list(block), "left_anti")
    a, b = keys.alias("a"), keys.alias("b")
    on = reduce(
        and_,
        [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block]
        + [F.col("a.id") < F.col("b.id")],
    )
    return (
        a.join(b, on)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
        )
        .distinct()
    )


def _bands_from_sets(
    sets_: DataFrame, n_hashes: int, n_bands: int, max_bucket: int | None = None
) -> DataFrame:
    """Candidate pairs (id_a < id_b) from banded minhash signatures: docs
    sharing any one (band_id, band_sig). ``max_bucket``: _blocked_pairs'
    hot-bucket guard."""
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
    return _blocked_pairs(bands, ("band_id", "band_sig"), max_bucket)


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
    ``max_bucket``: _blocked_pairs' hot-bucket guard on the band buckets."""
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

    ``max_df`` (hot-shingle guard): prefix hashes whose document frequency
    exceeds it are EXCLUDED from candidate generation — under "hash" order
    it is _blocked_pairs' ``max_bucket`` on the prefix-hash blocks, under
    "df" order a filter on the document frequencies already joined. A
    shingle shared by d docs contributes ~d^2/2 candidate rows — one viral
    boilerplate shingle at d=10^5 is 5*10^9 rows, the quadratic blow-up
    that flooded 29 GB of shuffle on a dense-vocab 50k-doc corpus (BENCH/sf1
    round 4). The trade is EXACTNESS: a pair whose prefix overlap consists
    ONLY of excluded hot shingles is missed (boilerplate-only similarity —
    usually exactly what dedup wants to ignore); pairs sharing any rarer
    prefix shingle are still found and still exactly verified. None
    (default) keeps the lossless guarantee."""
    sets_ = shingle_sets(df, id_col, text_col, k, parallelism)
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
    else:
        pref_len = (
            F.size("hs") - F.ceil(F.lit(float(threshold)) * F.size("hs")) + 1
        ).cast("int")
        pref = sets_.select(
            "id", F.explode(F.slice(F.array_sort("hs"), F.lit(1), pref_len)).alias("h")
        )
    # under hash order a prefix hash's block size is its document frequency
    # among the prefixes, so the helper's guard is the max_df filter
    cands = _blocked_pairs(pref, ("h",), None if order == "df" else max_df)
    return _verify_jaccard(cands, sets_, threshold)


def simhash_table(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_bits: int = 32,
    out_col: str = "sh",
) -> DataFrame:
    """(id, simhash): the ``n_bits`` SimHash over lowercase whitespace
    tokens. Token hash = the first n_bits/4 md5 hex digits of the word (8
    for 32 bits; 15 for 60, which stays inside a signed int64, the same
    trick as shingle_hashes); bit b is set iff the signed per-bit vote over
    the tokens is > 0. NULL text gets a NULL simhash. ``n_bits`` is 32 or
    60; anything else raises ValueError.

    The bit votes run vectorized in numpy (guide §4.2): an expression
    form's per-word vote is an interpreted aggregate×zip_with allocating a
    fresh n_bits-slot array per WORD (~32M lambda evals + 1M allocs on the
    5k-doc fixture, >1 s where the arithmetic is milliseconds).
    Tokenization and the md5 word hashes stay Catalyst — Java regex \\s+
    and UTF8String lowercasing never cross into Python, only int64 hash
    arrays do — and the vote/majority/assemble math is exact integer
    arithmetic, identical in numpy."""
    n_hex = {32: 8, 60: 15}.get(n_bits)
    if n_hex is None:
        raise ValueError(f"n_bits={n_bits} must be 32 or 60")
    words = F.split(F.lower(F.trim(text_col)), r"\s+")
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
    n_bits: int = 32,
    n_blocks: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs (id_a, id_b, hamming) with Hamming distance
    ≤ ``max_hamming``, blocked on BLOCK COMBINATIONS (Manku/Jain/Das Sarma,
    "Detecting Near-Duplicates for Web Crawling", WWW'07 §3): the
    ``n_bits`` fingerprint (simhash_table) is split into ``n_blocks``
    contiguous blocks of n_bits // n_blocks bits, and every
    (n_blocks − max_hamming)-subset of blocks is one exact-match key,
    ``sh & mask``. Pigeonhole: a pair at Hamming distance d flips bits in
    at most d blocks, so with n_blocks > max_hamming at least one subset is
    untouched and the pair collides on it — the blocking is lossless for
    Hamming ≤ max_hamming. Candidates pay one exact popcount verify.

    At the defaults (32 bits, 4 blocks, Hamming 3) the keys are the four
    8-bit bands, buckets ~n/2^8 — the row the DuckDB oracle checks.
    ``n_bits=60, n_blocks=6`` is the corpus-scale setting, where 32 bits
    saturate (birthday collisions ~2^16 docs): 6-choose-3 = 20 keys of 30
    bits, buckets ~n/2^30, the difference between linear and quadratic
    candidate generation at 10^8+ docs. Cost: C(n_blocks, max_hamming) key
    rows per doc, still one equi-join (_blocked_pairs). The simhash table
    is cached so the per-word md5 pass runs once, not once per join side.

    ``max_bucket``: _blocked_pairs' hot-bucket guard on the (combo, key)
    blocks. d identical fingerprints (viral boilerplate) share every key
    and cost C(n_blocks, max_hamming)·d²/2 candidate rows unguarded; under
    the guard a pair whose only shared keys are hot is missed — run exact
    dedup first, which is where identical text belongs anyway. With
    max_hamming < n_blocks − 1 each key spans several blocks, so the guard
    counts smaller buckets than a one-block banding of the same
    fingerprint would and can drop different pairs."""
    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks={n_blocks} must exceed max_hamming={max_hamming} for "
            "the exact-match blocking to be lossless (pigeonhole)"
        )
    s = hold(simhash_table(df, id_col, text_col, n_bits=n_bits))
    bits_per = n_bits // n_blocks
    block_mask = (1 << bits_per) - 1
    masks = [
        sum(block_mask << (b * bits_per) for b in combo)
        for combo in combinations(range(n_blocks), n_blocks - max_hamming)
    ]
    keys = s.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("combo"),
                        F.col("sh").bitwiseAND(F.lit(m)).alias("key"),
                    )
                    for ci, m in enumerate(masks)
                ]
            )
        ).alias("k"),
    ).select("id", "sh", "k.combo", "k.key")
    cands = _blocked_pairs(keys, ("combo", "key"), max_bucket, carry=("sh",))
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
    plan. Returns (id_col, n_shingles, contamination); a NULL-text doc has
    no shingles on either side and no output row (shingle_sets)."""
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
    can only ever span the doc itself. NULL-text docs have no gram on
    either side and no output row, the rule of shingle_sets.

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
    eval_df = eval_df.filter(F.col(text_col).isNotNull())
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
