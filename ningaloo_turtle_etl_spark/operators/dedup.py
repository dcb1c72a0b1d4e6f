"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Scale design notes:
- Exact dedup is a hash-groupBy on a fingerprint — one shuffle of (hash, id),
  never of document bodies.
- MinHash signatures and LSH band keys are pure Catalyst expressions
  (xxhash64 over shingles), so signature computation is a map-only codegen'd
  pass; the only shuffle is the band-key self-join, whose candidate sets are
  tiny compared to all-pairs.
- Verification (exact Jaccard) runs only on LSH candidates — the classic
  filter-verify pattern; all-pairs O(n²) never materializes.
- SimHash uses one Arrow-batched pandas UDF (bit-twiddling is not
  expressible as Catalyst columns) and then bucket-joins on rotated
  prefixes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf

from ningaloo_turtle_etl_spark.operators.text import tokens

# --- cache lifecycle --------------------------------------------------------
# minhash/simhash persist per-doc signature state (four self-join branches
# reference it; without materialization the signature recomputes per branch).
# The RESULT frames are lazy, so the operator cannot unpersist before the
# caller consumes them — the shared tracker in operators.cache registers
# every persist for explicit release, so long-lived sessions issuing many
# dedup calls don't accumulate storage. Re-exported under the original names
# (selection's DSIR shares the same registry).
from ningaloo_turtle_etl_spark.operators.cache import (  # noqa: E402
    release_tracked_caches,
    track_cache as _track_cache,
    tracked_cache_scope,
)


def release_dedup_caches() -> int:
    """Unpersist every tracked operator cache since the last release. Call
    after the result frames have been consumed (collected / written);
    returns the number of caches released."""
    return release_tracked_caches()


def dedup_cache_scope():
    """Context manager: operator caches created inside the scope are
    unpersisted on exit. Consume (collect/write) results INSIDE the scope —
    the frames are lazy and lose their backing cache at exit::

        with dedup_cache_scope():
            pairs = minhash_near_dup_pairs(docs).collect()
    """
    return tracked_cache_scope()


def spark_empty_pairs(df: DataFrame) -> DataFrame:
    return df.sparkSession.createDataFrame([], "id_a long, id_b long, cosine double")


# --- exact ------------------------------------------------------------------
def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id representative of each exact-content group
    (after whitespace/case normalization via the fingerprint)."""
    from ningaloo_turtle_etl_spark.operators.text import with_fingerprint
    from pyspark.sql.window import Window

    fp = with_fingerprint(df, text_col)
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (
        fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "fingerprint")
    )


def exact_dedup_semi(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup without shuffling document bodies: shuffle only
    (fingerprint, id) to elect keepers, then semi-join ids back.

    vs exact_dedup (window): the window shuffles full rows once; this
    variant shuffles two narrow columns plus an id semi-join. On a
    high-duplication corpus the keeper set is much smaller than the input
    and broadcasts, making the body side map-only — the right trade at
    100 TB; at small scale the window form is simpler and equivalent."""
    from ningaloo_turtle_etl_spark.operators.text import with_fingerprint

    fp = with_fingerprint(df, text_col)
    keepers = (
        fp.select("fingerprint", id_col)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    # No forced broadcast: on a low-duplication corpus the keeper set is
    # nearly the full id set and a broadcast hint would OOM; AQE broadcasts
    # it automatically exactly when it is small enough.
    return df.join(keepers, on=id_col, how="left_semi")


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seen_fp_col: str = "fingerprint",
) -> DataFrame:
    """Dedup a NEW batch against an already-deduped corpus snapshot without
    touching the snapshot's bodies: the daily-crawl-increment shape.

    ``seen`` is the snapshot's fingerprint column only (write it out
    partitioned/bucketed by fingerprint and this anti-join is co-located).
    Steps: (1) anti-join the new batch's fingerprints against ``seen`` —
    drops docs the corpus already has; (2) elect one keeper per fingerprint
    WITHIN the batch (min id, narrow-column shuffle) and semi-join ids back.
    Bodies of both sides never shuffle; the per-increment cost scales with
    the increment, not the corpus."""
    from ningaloo_turtle_etl_spark.operators.text import with_fingerprint

    fp = with_fingerprint(new_docs, text_col)
    seen_fps = seen.select(F.col(seen_fp_col).alias("fingerprint")).distinct()
    fresh = fp.join(seen_fps, on="fingerprint", how="left_anti")
    keepers = (
        fresh.select("fingerprint", id_col)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return new_docs.join(keepers, on=id_col, how="left_semi")


# --- cross-engine (md5) hash family ----------------------------------------
# xxhash64 is the fastest JVM-side hash but has no DuckDB equivalent, so
# signatures built on it can only be verified rows-only. The md5 family is
# bit-identical across engines: ONE md5 per shingle/token (60-bit prefix as
# int64), then 2-universal integer hashing (a·h + b) mod p for the per-slot
# MinHash values — integer ops, not 32 more digests — and integer mod-folds
# for band buckets. Same constants, same arithmetic, same answer in DuckDB.

#: Mersenne prime 2^61-1: the universal-hash modulus (a·h31 + b < 2^62 < 2^63).
MERSENNE61 = (1 << 61) - 1
#: 31-bit fold modulus for band buckets (prev·mult + 32-bit term < 2^52).
FOLD_P = (1 << 31) - 1
FOLD_MULT = 1_000_003
FOLD_MULT2 = 69_069


def md5_hash60(col: Column) -> Column:
    """First 60 bits (15 hex chars) of md5 as a non-negative int64 —
    deterministic and identical in DuckDB:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed (a, b) pairs for the universal-hash MinHash slots, derived from
    md5 of the slot index — deterministic constants, no RNG state, shared by
    the Spark expressions and the oracle SQL. ``a`` is odd and 31-bit."""
    import hashlib

    out = []
    for i in range(num_hashes):
        d = hashlib.md5(f"minhash-coeff-{i}".encode()).hexdigest()
        a = (int(d[:8], 16) | 1) & 0x7FFFFFFF
        b = int(d[8:16], 16) & 0x7FFFFFFF
        out.append((a, b))
    return out


def fold_bucket(terms: list[Column], init: Column) -> Column:
    """Order-dependent integer fold of 32-bit-masked terms into a 62-bit
    bucket id: two independent 31-bit Horner folds
    acc = (acc·mult + (t & 0xFFFFFFFF)) % (2^31-1), combined as
    fold₁·2³¹ + fold₂. 62 bits keeps merge-collisions negligible at
    billion-row band tables (a 31-bit space would merge real buckets there,
    and a merged bucket crossing ``max_bucket_size`` silently drops pairs).
    Remaining collisions only ADD candidates (verified afterwards) — a
    deterministic map can never split equal keys, so recall is unaffected.
    Identical arithmetic runs in the DuckDB oracle."""

    def fold(mult: int) -> Column:
        acc = init.cast("long") % F.lit(FOLD_P)
        for t in terms:
            acc = (acc * mult + t.bitwiseAND(F.lit(0xFFFFFFFF))) % F.lit(FOLD_P)
        return acc

    return fold(FOLD_MULT) * F.lit(1 << 31) + fold(FOLD_MULT2)


# --- shingles / MinHash -----------------------------------------------------
def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array column (distinct). Pure columns:
    shifted-array zip_with over the token array (`text.sliding_ngrams`,
    the r11 constant-factor form — identical gram strings)."""
    from ningaloo_turtle_etl_spark.operators.text import sliding_ngrams

    toks = tokens(col)
    return F.array_distinct(
        F.when(F.size(toks) >= n, sliding_ngrams(toks, n)).otherwise(
            F.array(F.concat_ws(" ", toks))
        )
    )


def minhash_signature(shingle_col: Column, num_hashes: int = 32) -> Column:
    """MinHash signature (xxhash64 family): for seed i, min over shingles of
    xxhash64(i, s). One array column of length ``num_hashes``; entirely
    JVM-side.

    Measured decision (r06 A/B, recorded in commit 490ca14; idle host, 3 reps):
    this per-slot form beats the r05 "hash-once + 2-universal integer
    slots" scheme ~1.5× end-to-end (3.37 s vs 5.22 s at 20k docs;
    1.57 s vs 1.77 s at 500 docs) — xxhash64 over short strings is a fused
    JVM intrinsic while the 64-bit ``% (2⁶¹-1)`` in the integer slots is
    the bottleneck, and masking ``h`` to 31 bits also cost ~6% recall
    (34,063 vs 32,184 verified pairs at identical threshold). r05's
    committed claim of "~2× faster" came from a broken A/B that
    monkeypatched a function the pipeline never calls. The md5 family keeps
    the hash-once slot scheme (``minhash_slots_from_hashes``) because
    DuckDB-reproducibility, not speed, is its job.

    NB: the per-seed lambda must be UNARY — F.transform passes the element
    index to a second parameter, so a `lambda s, i=i:` closure would receive
    the index as ``i`` and collapse every signature slot into the same hash
    function (destroying LSH recall). Seeds are bound via a helper scope.
    """

    def slot(i: int) -> Column:
        seed = F.lit(i)
        return F.array_min(F.transform(shingle_col, lambda s: F.xxhash64(seed, s)))

    return F.array(*[slot(i) for i in range(num_hashes)])


def minhash_slots_from_hashes(hashed_shingle_col: Column, num_hashes: int = 32) -> Column:
    """MinHash slots over PRE-HASHED shingle values (family-agnostic): min
    over shingles of (aᵢ·(h & 2³¹-1) + bᵢ) mod (2⁶¹-1). One digest per
    shingle total (paid once in the shared ``sh`` column), then pure
    integer min-folds per slot. With md5-derived ``h`` this arithmetic is
    reproducible verbatim in DuckDB (the oracle row); with xxhash64 ``h``
    it is the fast scale path — the construction is identical."""

    def slot(a: int, b: int) -> Column:
        return F.array_min(
            F.transform(
                hashed_shingle_col,
                lambda h: (F.lit(a) * h.bitwiseAND(F.lit(0x7FFFFFFF)) + F.lit(b))
                % F.lit(MERSENNE61),
            )
        )

    return F.array(*[slot(a, b) for a, b in minhash_coeffs(num_hashes)])


#: Back-compat name: the md5 family's slot derivation (same function — the
#: slots never see the digest algorithm, only the int64 hash values).
minhash_signature_md5 = minhash_slots_from_hashes


def _fp_window():
    """Window over an exact-text fingerprint group (module-level so the
    import stays out of the per-call hot path)."""
    from pyspark.sql.window import Window

    return Window.partitionBy("_fp")


def exact_text_fp(text_col: str | Column) -> Column:
    """128-bit exact-text fingerprint: xxhash64 under two independent seeds,
    packed as a 32-hex-char string. A single 64-bit fingerprint silently
    merges two DISTINCT documents at birthday scale (~2³² docs — reachable
    at 100 TB), and inside ``collapse_exact`` such a merge would emit a
    false jaccard=1.0 pair and substitute the representative's shingle set
    for the collided doc. 128 bits pushes that to ~2⁶⁴ docs."""
    return F.concat(
        F.lpad(F.hex(F.xxhash64(text_col)), 16, "0"),
        F.lpad(F.hex(F.xxhash64(F.lit(0x9E3779B9), text_col)), 16, "0"),
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int | None = 500,
    hash_family: str = "xxhash64",
    collapse_exact: bool = False,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs with exact-Jaccard verification.

    shingle → minhash → band-hash → bucket self-join (candidates) →
    verify(J(a,b) ≥ threshold). Returns (id_a, id_b, jaccard), id_a < id_b.
    With b bands of r rows the candidate curve is 1-(1-s^r)^b.

    ``max_bucket_size`` drops buckets larger than the cap before the
    self-join — the standard guard against low-information signatures (tiny
    vocabularies, boilerplate) whose hot buckets grow the candidate set
    quadratically. Pairs inside a dropped bucket can still surface through
    their other bands; None disables the cap.

    ``hash_family``: 'xxhash64' (default) is the fastest JVM path —
    measured ~1.7× quicker warm than 'md5' at 500 sf0.1 docs (1.4 s vs
    2.4 s), so it stays the scale default. 'md5' hashes each shingle ONCE
    with md5 and derives the 32 slots by 2-universal integer hashing —
    bit-reproducible in DuckDB, which is what gives the registered query
    its full oracle row. Both are filter-verify; recall/candidate behavior
    is equivalent (tests pin planted-pair recall for both).

    ``collapse_exact=True`` is the heavily-duplicated-corpus scale path:
    byte-identical texts collapse to one canonical doc (lowest id) BEFORE
    shingling, LSH runs over canonical docs only, and the pair list is
    reconstituted afterwards — identical-text pairs at jaccard 1.0 plus
    every cross-group expansion of each canonical near-dup pair (members
    share their representative's shingle set, so the expanded jaccard is
    exact, not approximated). On a corpus that is d× exact-duplicated this
    cuts shingling/signature work and candidate verification by ~d× while
    the only quadratic term left is the output pair list itself. On a
    duplicate-free corpus the collapse is an identity and the result is
    bit-identical to the direct path. Semantic caveat: ``max_bucket_size``
    then caps DISTINCT-text bucket membership (replicas no longer inflate
    bucket sizes toward the cap), and identical-text pairs are always
    reported even where the direct path's bucket cap could drop them —
    strictly better recall, but not pairwise-identical on corpora with
    exact duplicates near a capped bucket.
    """
    from pyspark import StorageLevel

    if hash_family not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    if collapse_exact:
        fp = df.select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("_txt"),
            exact_text_fp(text_col).alias("_fp"),
        )
        mem = _track_cache(
            fp.select(
                "id",
                "_fp",
                F.min("id").over(_fp_window()).alias("_rep"),
            ).persist(StorageLevel.MEMORY_AND_DISK)
        )
        reps = (
            fp.join(
                mem.where(F.col("id") == F.col("_rep")).select("id"), on="id"
            )
            .select(F.col("id").alias(id_col), F.col("_txt").alias(text_col))
        )
        rep_pairs = minhash_near_dup_pairs(
            reps,
            text_col=text_col,
            id_col=id_col,
            shingle_n=shingle_n,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            max_bucket_size=max_bucket_size,
            hash_family=hash_family,
            collapse_exact=False,
        )
        intra = (
            mem.alias("a")
            .join(
                mem.alias("b"),
                on=[
                    F.col("a._fp") == F.col("b._fp"),
                    F.col("a.id") < F.col("b.id"),
                ],
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        ma = mem.select(F.col("_rep").alias("id_a"), F.col("id").alias("_ma"))
        mb = mem.select(F.col("_rep").alias("id_b"), F.col("id").alias("_mb"))
        cross = (
            rep_pairs.join(ma, on="id_a")
            .join(mb, on="id_b")
            .select(
                F.least("_ma", "_mb").alias("id_a"),
                F.greatest("_ma", "_mb").alias("id_b"),
                "jaccard",
            )
        )
        return intra.unionByName(cross)
    rows = num_hashes // bands
    # Verification operates on HASHED shingle sets: array_intersect over
    # longs is far cheaper than over 3-gram strings, and |A∪B| comes from
    # set sizes (|A|+|B|-|A∩B|) instead of materializing the union.
    # Exactness is preserved up to hash collisions (~n²/2⁶⁰).
    shingle_hash = md5_hash60 if hash_family == "md5" else F.xxhash64
    # NB on the barrier_col pattern (operators/scale.py): an A/B at 20k
    # docs measured the barrier ~17% SLOWER here (17.4 s → 20.3 s) —
    # unlike the winnowing/bigram chains, this stage's cost is dominated
    # by the banded join + verification, not lambda re-evaluation, and
    # the extra Generate layers only add overhead. Kept barrier-free.
    sh = df.select(
        F.col(id_col).alias("id"), shingles(text_col, shingle_n).alias("sh_str")
    ).select(
        "id",
        "sh_str",
        F.array_distinct(F.transform("sh_str", lambda s: shingle_hash(s))).alias("sh"),
    )
    # Persist the per-doc state: the plan references it from four self-join
    # branches (two banded sides, two verification sides), and without a
    # materialization Spark replays shingling + the hash passes per branch
    # (measured 200s vs 40s at 50k docs). Hashed shingles + signature are
    # ~1-2% of corpus size; MEMORY_AND_DISK spills cleanly. The cache cannot
    # be unpersisted here (the returned frame is lazy) — it is tracked;
    # release with release_dedup_caches() / dedup_cache_scope() after
    # consuming the result.
    # Signature per family: md5 derives slots from the already-hashed
    # shingle set (one digest per shingle, then integer min-folds —
    # DuckDB-reproducible, buys the oracle row); xxhash64 re-hashes the
    # string per slot, which the r06 A/B (see minhash_signature) measured
    # ~1.5× faster end-to-end than the integer-slot scheme AND slightly
    # higher recall. Both are computed in the SAME select as ``sh`` so the
    # string shingles never ride the cache — only (id, sh, sig) persists.
    if hash_family == "md5":
        sig_expr = minhash_slots_from_hashes(F.col("sh"), num_hashes)
    else:
        sig_expr = minhash_signature(F.col("sh_str"), num_hashes)
    sig = _track_cache(
        sh.select("id", "sh", sig_expr.alias("sig")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    # Candidate generation carries ONLY (id, band-bucket): shingle arrays
    # must not ride through the banded self-join and the pair-dedup shuffle
    # (measured 2-3x slower at 50k docs when they do).
    if hash_family == "md5":
        band_bucket = [
            fold_bucket(
                [F.col("sig")[b * rows + r] for r in range(rows)], F.lit(b)
            )
            for b in range(bands)
        ]
    else:
        band_bucket = [
            F.xxhash64(F.lit(b), *[F.col("sig")[b * rows + r] for r in range(rows)])
            for b in range(bands)
        ]
    banded = sig.select(
        "id",
        F.explode(F.array(*band_bucket)).alias("bucket"),
    )
    if max_bucket_size is not None:
        counts = banded.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bn"))
        banded = (
            banded.join(counts, on="bucket")
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            on=[F.col("a.bucket") == F.col("b.bucket"), F.col("a.id") < F.col("b.id")],
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verification: attach each side's hashed shingle set once, then exact
    # Jaccard via intersect size + size arithmetic. Derived from the PERSISTED
    # frame: Spark's cache matches whole analyzed sub-plans, so building this
    # from the pre-persist `sh` would re-run tokenize+shingle+hash on both
    # verification branches and only the banded branches would hit the cache.
    sets = sig.select("id", "sh", F.size("sh").alias("n_sh"))
    cand = cand.join(
        sets.select(
            F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a")
        ),
        on="id_a",
    ).join(
        sets.select(
            F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b")
        ),
        on="id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.col("n_a") + F.col("n_b") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# --- n-gram Jaccard (blocked all-pairs, for oracle-sized candidate sets) ---
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    shingle_n: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact pairwise Jaccard within blocks (same ``block_col`` value).
    Blocking bounds the quadratic term; for unblocked dedup at scale use
    minhash_near_dup_pairs."""
    cols = [F.col(id_col).alias("id"), shingles(text_col, shingle_n).alias("sh")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    sh = df.select(*cols)
    a, b = sh.alias("a"), sh.alias("b")
    on = [F.col("a.id") < F.col("b.id")]
    if block_col:
        on.insert(0, F.col("a.blk") == F.col("b.blk"))
    pairs = a.join(b, on=on)
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    union = F.size(F.array_union("a.sh", "b.sh"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    # Raw-value threshold, rounded display (see embedding_near_dup_pairs).
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            jac.alias("_jac"),
        )
        .filter(F.col("_jac") >= threshold)
        .select("id_a", "id_b", F.round("_jac", 6).alias("jaccard"))
    )


# --- embedding-cosine near-dup ---------------------------------------------
def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_lsh_blocking: bool = True,
    bits: int = 6,
    tables: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    With ``use_lsh_blocking`` the candidate set comes from multi-table
    sign-LSH bucket collisions (see operators.similarity) — at corpus scale
    the all-pairs product never materializes; exact cosine verifies each
    candidate. Without it, a plain self-join (only for oracle-sized inputs).

    ``dim`` is inferred from the data when not given: hyperplanes of the
    wrong width would null out every dot product (zip_with pads with NULL)
    and silently collapse all vectors into one bucket.
    """
    from ningaloo_turtle_etl_spark.operators.similarity import (
        _as_double,
        _dot,
        _hyperplanes,
        _bucket_expr,
        _norm,
    )

    base = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("v_norm", _norm(F.col("v")))

    if use_lsh_blocking:
        if dim is None:
            first = df.select(F.size(vec_col).alias("d")).first()
            if first is None:
                return spark_empty_pairs(df)
            dim = int(first["d"])
        tb = [
            F.struct(
                F.lit(t).alias("t"),
                _bucket_expr(F.col("v"), _hyperplanes(dim, bits, 7 + 1000 * t)).alias("bk"),
            )
            for t in range(tables)
        ]
        exploded = base.withColumn("tb", F.explode(F.array(*tb))).select(
            "id", "v", "v_norm", F.col("tb.t").alias("t"), F.col("tb.bk").alias("bk")
        )
        a, b = exploded.alias("a"), exploded.alias("b")
        pairs = a.join(
            b,
            on=[
                F.col("a.t") == F.col("b.t"),
                F.col("a.bk") == F.col("b.bk"),
                F.col("a.id") < F.col("b.id"),
            ],
        ).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
            F.col("a.v_norm").alias("na"),
            F.col("b.v_norm").alias("nb"),
        ).dropDuplicates(["id_a", "id_b"])
    else:
        a, b = base.alias("a"), base.alias("b")
        pairs = a.join(b, on=[F.col("a.id") < F.col("b.id")]).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
            F.col("a.v_norm").alias("na"),
            F.col("b.v_norm").alias("nb"),
        )

    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    # Threshold the RAW cosine (matching the oracles and minhash); round
    # only for display. Filtering the rounded value admits boundary rows
    # the raw filter excludes.
    return (
        pairs.withColumn("_cos", cos)
        .filter(F.col("_cos") >= threshold)
        .select("id_a", "id_b", F.round("_cos", 6).alias("cosine"))
    )


# --- semantic (k-means-blocked) near-dup -------------------------------------
def semantic_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
    deterministic: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): block by k-means cell — every vector is assigned to
    its nearest centroid and only WITHIN-cell pairs are scored with exact
    cosine. Cross-cell near-dups are missed by construction; that is the
    method's documented approximation (near-identical vectors land in the
    same cell almost surely).

    Scale shape: at N docs pick n_centroids ≈ N/target_cell_size so cells
    stay small (the paper runs 50k clusters over 100M+ docs); the candidate
    join is payload-free — pairs are generated from bare (cell, id) rows and
    the vectors are attached afterwards by id (the same trick that cut the
    LSH bench 2×: wide arrays never ride through the pair product).

    ``deterministic=True`` fits centroids from the md5-hash-ordered sample
    (bit-identical across runs/partitionings) instead of the seeded uniform
    takeSample — required for reproducible registered-query output."""
    from ningaloo_turtle_etl_spark.operators.similarity import (
        _dot,
        build_ivf_index,
        fit_centroids,
    )

    if centroids is None:
        centroids = fit_centroids(
            df,
            n_centroids,
            vec_col=vec_col,
            id_col=id_col,
            method="hash" if deterministic else "sample",
        )
    index = build_ivf_index(df, id_col=id_col, vec_col=vec_col, centroids=centroids)
    slim = index.assigned.select("vec_id", "cell")
    a, b = slim.alias("a"), slim.alias("b")
    cand = a.join(
        b,
        on=[F.col("a.cell") == F.col("b.cell"), F.col("a.vec_id") < F.col("b.vec_id")],
    ).select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
    vecs = index.assigned.select("vec_id", "v", "v_norm")
    pairs = (
        cand.join(vecs.withColumnsRenamed({"vec_id": "id_a", "v": "va", "v_norm": "na"}), on="id_a")
        .join(vecs.withColumnsRenamed({"vec_id": "id_b", "v": "vb", "v_norm": "nb"}), on="id_b")
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("_cos", cos)
        .filter(F.col("_cos") >= threshold)
        .select("id_a", "id_b", F.round("_cos", 6).alias("cosine"))
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.5,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    deterministic: bool = False,
    centroids=None,
) -> DataFrame:
    """Collapse semantic near-dup clusters to one representative each: pairs
    from ``semantic_near_dup_pairs``, components via pointer-jumping
    connected components, keep the min-id row per component (singletons keep
    themselves). Pass ``centroids`` (array-like, k×dim) to block against a
    FIXED centroid set — e.g. the frozen fixture the registered query
    serves, which is what makes its output DuckDB-oracle-reproducible."""
    from ningaloo_turtle_etl_spark.operators.graph import cluster_representatives

    pairs = semantic_near_dup_pairs(
        df,
        threshold=threshold,
        n_centroids=n_centroids,
        id_col=id_col,
        vec_col=vec_col,
        deterministic=deterministic,
        centroids=centroids,
    )
    return cluster_representatives(df, pairs, id_col=id_col)


# --- SimHash ----------------------------------------------------------------
# Bit masks for assembling a signed-long signature: bit 63's mask is the long
# MIN_VALUE bit pattern (Python ints won't wrap on their own).
_SIGN_MASKS = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]


def _bit_signs(h: Column) -> Column:
    """array<int> of 64 ±1 terms, one per bit of ``h`` (LSB first)."""
    return F.array(
        *[
            F.when(
                F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))
            for b in range(64)
        ]
    )


def token_hashes(text_col: Column | str, hash_family: str = "xxhash64") -> Column:
    """Per-token hash as an array<long> column: 64-bit xxhash64 (default,
    fastest JVM path) or the 60-bit md5 family (DuckDB-reproducible)."""
    if hash_family == "md5":
        return F.transform(tokens(text_col), lambda t: md5_hash60(t))
    return F.transform(tokens(text_col), lambda t: F.xxhash64(t))


_SWAR_LANE = 0x0001000100010001  # one 1-bit per 16-bit lane


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, sig) via explode + a whole-stage-codegen hash aggregate of 16
    SWAR lane sums: lane accumulator j packs the per-bit counts of bits
    {j, j+16, j+32, j+48} as four 16-bit counters in one long
    (``sum((h >>> j) & 0x0001000100010001)``), so 16 codegen'd SUMs
    replace a 64-pass higher-order fold. Spark HOF lambdas are
    CodegenFallback (interpreted per array element) — switching to the
    exploded aggregate measured 3.0 s vs 10-13 s warm / 7.4 s vs 27 s
    cold for the 250k-doc signature stage, identical signatures.

    Scale shape: the explode is map-side; partial aggregation collapses
    each partition to its live (id × 17-long) groups before the shuffle,
    so shuffled bytes are doc-count-sized, never token-count-sized. The
    16-bit lanes overflow only past 65535 tokens of one doc — beyond any
    sane document; chunk longer docs upstream if that ever changes.

    ANSI-mode caveat: lane-exactness relies on Java long wraparound in the
    packed SUM, and the SIGNED 64-bit sum's top lane goes negative once a
    single lane count exceeds 32767 — correct under default Spark (the
    lanes are re-extracted with unsigned shifts), but with
    ``spark.sql.ansi.enabled=true`` the SUM raises an overflow error for
    docs past ~32k tokens, i.e. below the 65535-token lane bound above.
    Under ANSI mode chunk docs at ≤32767 tokens (or use ``simhash_expr``,
    whose per-bit counters never pack).

    ``explode_outer`` keeps empty/whitespace-only docs: their lane sums
    aggregate over zero non-null hashes → NULL → the per-bit WHEN falls
    through to 0, reproducing the fold form's sig=0 for empty text.

    ``hash_family='md5'`` builds a 60-bit signature from md5-derived token
    hashes — bit-identical in DuckDB, which is what makes the registered
    query's full oracle row possible."""
    bits = 60 if hash_family == "md5" else 64
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(token_hashes(F.col(text_col), hash_family)).alias(
            "_h"
        ),
    )
    lanes = ex.groupBy("id").agg(
        F.count("_h").alias("_nt"),
        *[
            F.sum(
                F.shiftrightunsigned("_h", j).bitwiseAND(
                    F.lit(_SWAR_LANE).cast("long")
                )
            ).alias(f"_a{j}")
            for j in range(16)
        ],
    )
    sig = F.lit(0).cast("long")
    for b in range(bits):
        cnt = F.shiftrightunsigned(
            F.col(f"_a{b % 16}"), 16 * (b // 16)
        ).bitwiseAND(F.lit(0xFFFF).cast("long"))
        sig = sig.bitwiseOR(
            F.when(
                2 * cnt > F.col("_nt"), F.lit(_SIGN_MASKS[b]).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        )
    return lanes.select(
        "id", F.coalesce(sig, F.lit(0).cast("long")).alias("sig")
    )


def simhash_expr(text_col: Column | str) -> Column:
    """Single-expression SimHash (for ad-hoc column use): accumulate 64 ±1
    counters with a higher-order ``aggregate``/``zip_with``, sign bits OR'd
    into one long. Hashes each token exactly once inside the fold, so it is
    safe as ONE expression — slightly slower than the two-step
    ``with_simhash`` (array allocation per token) but identical output.
    Null/empty text hashes to 0, matching the UDF form."""
    hashes = token_hashes(text_col)
    acc = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda a, h: F.zip_with(a, _bit_signs(h), lambda x, y: x + y),
    )
    masks = F.array(*[F.lit(m).cast("long") for m in _SIGN_MASKS])
    bits = F.zip_with(
        acc, masks, lambda a, m: F.when(a > 0, m).otherwise(F.lit(0).cast("long"))
    )
    sig = F.aggregate(bits, F.lit(0).cast("long"), lambda s, x: s.bitwiseOR(x))
    return F.coalesce(sig, F.lit(0).cast("long"))


def simhash_udf(num_bits: int = 64):
    """64-bit SimHash over whitespace tokens: sum ±1 per bit of each token's
    hash, sign → bit. Arrow-batched; numpy bit kernel."""

    @pandas_udf("long")
    def simhash(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            if t is None:
                continue
            acc = np.zeros(num_bits, dtype=np.int64)
            for tok in str(t).split():
                h = np.uint64(hash64(tok))
                bits = (h >> np.arange(num_bits, dtype=np.uint64)) & np.uint64(1)
                acc += np.where(bits.astype(bool), 1, -1)
            sig = np.uint64(0)
            for b in range(num_bits):
                if acc[b] > 0:
                    sig |= np.uint64(1) << np.uint64(b)
            out[i] = np.int64(sig)
        return pd.Series(out)

    return simhash


def hash64(s: str) -> int:
    """Deterministic 64-bit string hash (FNV-1a), stable across processes —
    Python's builtin hash() is salted per-interpreter and unusable here."""
    h = 0xCBF29CE484222325
    for ch in s.encode("utf-8"):
        h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    num_blocks: int | None = None,
    signature: str = "catalyst",
) -> DataFrame:
    """SimHash near-dup pairs with a sound pigeonhole guarantee.

    The 64-bit signature splits into ``num_blocks`` disjoint near-equal
    blocks; candidates share ANY (block index, block value). Two signatures
    within Hamming distance H differ in at most H blocks, so with
    B > H blocks at least one block matches — ``num_blocks`` defaults to
    ``max_hamming + 1``, making the recall guarantee exact. Candidates are
    verified by bit_count(xor) ≤ max_hamming.

    Cost scales hard with H: B blocks means width/B-bit bucket keys, and
    bucket occupancy (hence candidate pairs) grows ~quadratically as blocks
    shrink. H=3 → 16-bit blocks is the classic operating point (Manku et
    al.'s web-dedup setting); H=8 → 7-bit blocks is only tractable for
    small candidate sets.
    """
    # ``signature='catalyst'`` (default) computes 64-bit signatures entirely
    # JVM-side (map-only, two-step with_simhash); ``'md5'`` is the 60-bit
    # DuckDB-reproducible family (full oracle row); ``'fnv_udf'`` keeps the
    # round-1 pandas-UDF/FNV-1a form as a slow cross-check path (tests pin
    # the families to the same pair set).
    width = 60 if signature == "md5" else 64
    blocks = num_blocks if num_blocks is not None else max_hamming + 1
    if blocks > width:
        raise ValueError(f"num_blocks cannot exceed signature width ({width})")
    bounds = [round(width * k / blocks) for k in range(blocks + 1)]

    from pyspark import StorageLevel

    if signature == "catalyst":
        sh = with_simhash(df, text_col, id_col)
    elif signature == "md5":
        sh = with_simhash(df, text_col, id_col, hash_family="md5")
    elif signature == "fnv_udf":
        sh = df.select(
            F.col(id_col).alias("id"), simhash_udf()(F.col(text_col)).alias("sig")
        )
    else:
        raise ValueError(f"unknown signature family: {signature!r}")
    # Persist: the signature is referenced from four self-join branches —
    # without materialization the signature expression runs once per branch.
    # Not unpersisted here (the result is lazy) — tracked; release with
    # release_dedup_caches() / dedup_cache_scope() after consuming.
    sh = _track_cache(sh.persist(StorageLevel.MEMORY_AND_DISK))

    w_max = max(bounds[k + 1] - bounds[k] for k in range(blocks))

    def block_bucket(k: int) -> Column:
        start, end = bounds[k], bounds[k + 1]
        w = end - start
        value = F.shiftrightunsigned(F.col("sig"), start).bitwiseAND(
            F.lit((1 << w) - 1)
        )
        if signature == "md5":
            # Exact integer pack (k, value) — no hash, identical in DuckDB.
            # k ≤ blocks-1 and w_max ≈ width/blocks keeps k·2^w_max < 2^63.
            return F.lit(k) * F.lit(1 << w_max) + value
        return F.xxhash64(F.lit(k), value)

    banded = sh.select(
        "id",
        "sig",
        F.explode(F.array(*[block_bucket(k) for k in range(blocks)])).alias("bucket"),
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            on=[F.col("a.bucket") == F.col("b.bucket"), F.col("a.id") < F.col("b.id")],
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- cross-document duplicate-passage removal -------------------------------
def duplicate_passage_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passage_tokens: int = 50,
) -> DataFrame:
    """Exact-substring dedup at passage granularity — the Spark-first form
    of the 'Deduplicating Training Data Makes Language Models Better'
    suffix-array pass (Lee et al. 2022): split each document into
    non-overlapping ``passage_tokens``-token passages, keep the globally
    FIRST occurrence (ordered by doc id, then position) of every passage,
    drop the rest, and reconstruct each document from its surviving
    passages in order.

    Output: one row per input doc — ``(id, n_passages, n_removed,
    cleaned_text)``; tokenless docs pass through with 0/0/''.

    Scale shape: passage building is a map-only Catalyst pass fused with
    the scan (no UDFs); first-occurrence election is ONE window shuffle
    partitioned by the passage content; reconstruction is ONE groupBy(id)
    shuffle carrying surviving passages (reassembly is the irreducible
    shuffle — at 100 TB, prefer emitting (id, idx) removal masks and
    applying them at read time if the cleaned text isn't needed
    materialized). Within-doc repeats count as duplicates too (second
    occurrence loses), matching the global policy."""
    from pyspark.sql.window import Window

    toks = tokens(text_col)
    n_pas = F.ceil(F.size(toks) / F.lit(passage_tokens)).cast("int")
    # sequence(0, -1) would yield [0, -1] (negative step); guard empties.
    idx_seq = F.when(n_pas > 0, F.sequence(F.lit(0), n_pas - 1)).otherwise(
        F.array().cast("array<int>")
    )
    passages = F.transform(
        idx_seq,
        lambda i: F.struct(
            i.alias("idx"),
            F.concat_ws(
                " ", F.slice(toks, i * passage_tokens + 1, passage_tokens)
            ).alias("passage"),
        ),
    )
    exploded = df.select(
        F.col(id_col), F.explode(passages).alias("p")
    ).select(id_col, F.col("p.idx").alias("idx"), F.col("p.passage").alias("passage"))

    w = Window.partitionBy("passage").orderBy(id_col, "idx")
    marked = exploded.withColumn("_rn", F.row_number().over(w))
    per_doc = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(F.when(F.col("_rn") == 1, 0).otherwise(1)).alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_rn") == 1,
                            F.struct(F.col("idx"), F.col("passage")),
                        )
                    )
                ),
                lambda s: s.passage,
            ),
        ).alias("cleaned_text"),
    )
    return (
        df.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_passages", F.lit(0)).alias("n_passages"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


def _char_windows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    sample_mod: int,
    hash_family: str,
) -> DataFrame:
    """(id, pos, h) for every length-``k`` character window starting at
    1-based ``pos`` of ``text_col``. The window CONTENT never leaves the map
    side — only its hash shuffles (16-char md5 prefix for the cross-engine
    family, 8-byte xxhash64 otherwise).

    ``sample_mod`` m > 1 keeps only windows whose hash ≡ 0 (mod m) —
    CONTENT-DEFINED sampling (the MODP scheme from the winnowing family,
    Schleimer et al. 2003). Identical content keeps identical windows no
    matter where it sits in a doc, so sampling never desynchronizes the two
    occurrences of a duplicate; a duplicated span of length L ≥ k is missed
    only when none of its L−k+1 windows samples, P ≈ (1−1/m)^(L−k+1).
    (A positional stride CANNOT give this guarantee: occurrences whose
    offsets differ by a non-multiple of the stride share no window starts
    at any length.) The filter runs map-side, before any shuffle."""
    if hash_family not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    t = F.coalesce(F.col(text_col), F.lit(""))
    pos = df.select(
        F.col(id_col), t.alias("_t"), F.length(t).alias("_len")
    ).where(F.col("_len") >= k).select(
        id_col,
        "_t",
        F.explode(
            F.sequence(F.lit(1), F.col("_len") - k + 1)
        ).alias("pos"),
    )
    win = F.substring(F.col("_t"), F.col("pos"), k)
    if hash_family == "md5":
        hx = F.md5(win)
        h = F.substring(hx, 1, 16)
        smp = F.conv(F.substring(hx, 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64(win)
        smp = h
    out = pos.select(id_col, "pos", h.alias("_h"), smp.alias("_smp"))
    if sample_mod > 1:
        out = out.where(F.pmod(F.col("_smp"), F.lit(sample_mod)) == 0)
    return out.drop("_smp")


def _ranked_windows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    sample_mod: int,
    hash_family: str,
    with_count: bool = True,
) -> DataFrame:
    """Char windows with their global occurrence rank (``_rn``, ordered by
    (id, pos) — rank 1 is the corpus-wide FIRST occurrence and is the one
    exact-substring dedup keeps) and total occurrence count (``_cnt``).

    One shuffle, keyed by the window hash. Both window specs share the
    partitioning so Spark plans a single exchange. Skew caveat: a
    pathologically hot window (a run of spaces, a boilerplate banner)
    serializes its hash's rank election through one task — raise ``k`` or
    pre-filter low-entropy text upstream if a corpus has such runs.

    ``with_count=False`` skips the ``_cnt`` total-occurrence column —
    span removal only needs the rank, and the unordered count frame is a
    second whole WindowExec pass over every window row (~15% of the 10×
    probe's wall-clock) that stats callers alone should pay for."""
    from pyspark.sql.window import Window

    win = _char_windows(df, text_col, id_col, k, sample_mod, hash_family)
    wo = Window.partitionBy("_h").orderBy(id_col, "pos")
    out = win.withColumn("_rn", F.row_number().over(wo))
    if with_count:
        out = out.withColumn(
            "_cnt", F.count(F.lit(1)).over(Window.partitionBy("_h"))
        )
    return out


def substring_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 40,
    sample_mod: int = 1,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Exact-substring duplication profile at character granularity — the
    measurement half of the Lee et al. 2022 suffix-array pass, re-expressed
    for Spark: any duplicated substring of length ≥ k contains at least one
    duplicated k-char window, so hashing every overlapping window gives a
    complete detector for ≥k-char duplication without ever building a
    suffix array. Complements ``duplicate_passage_removal`` (non-overlapping
    TOKEN passages): windows catch duplication that straddles passage
    boundaries or shifts by a word.

    Per input doc: ``n_windows``; ``n_dup_windows`` (window content occurs
    ≥2 times corpus-wide, anywhere — other docs or elsewhere in this one);
    ``n_removable_windows`` (occurrence rank ≥ 2, i.e. what span removal
    would target); ``dup_char_frac`` / ``removable_char_frac`` — the
    fraction of the doc's characters covered by the INTERVAL UNION of those
    windows (a classic sort-by-position sweep per doc, so overlapping
    windows aren't double-counted). Docs shorter than ``k`` report zeros.

    Scale shape: windows are (id, pos, hash) triples — the text itself
    stays map-side; shuffle 1 ranks by hash (map-side combine can't help,
    but rows are 24 B); shuffle 2 is the per-doc sweep, bounded by doc
    length. ``sample_mod`` m > 1 keeps the 1/m of windows whose hash ≡ 0
    (mod m) — content-defined, so both copies of a duplicate keep the SAME
    windows and stats stay comparable across docs; at 100 TB run m ≈ k
    first (windows ≈ corpus size instead of k× it) and rescan only flagged
    docs at m = 1. ``hash_family='md5'`` is the DuckDB-reproducible family
    (oracle rows); xxhash64 is the fast path."""
    from pyspark.sql.window import Window

    ranked = _ranked_windows(df, text_col, id_col, k, sample_mod, hash_family)
    sweep = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )

    def covered(flag: Column) -> Column:
        prev_end = F.max(F.when(flag, F.col("pos") + k)).over(sweep)
        return F.when(
            flag,
            F.greatest(
                F.lit(0),
                F.col("pos")
                + k
                - F.greatest(F.col("pos"), F.coalesce(prev_end, F.col("pos"))),
            ),
        ).otherwise(F.lit(0))

    dup = F.col("_cnt") >= 2
    rem = F.col("_rn") >= 2
    per = ranked.select(
        id_col,
        F.lit(1).alias("_one"),
        dup.cast("int").alias("_dup"),
        rem.cast("int").alias("_rem"),
        covered(dup).alias("_dupc"),
        covered(rem).alias("_remc"),
    ).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("_dup").alias("n_dup_windows"),
        F.sum("_rem").alias("n_removable_windows"),
        F.sum("_dupc").alias("_dup_chars"),
        F.sum("_remc").alias("_rem_chars"),
    )
    n_chars = F.length(F.coalesce(F.col(text_col), F.lit("")))
    return (
        df.select(F.col(id_col), n_chars.alias("_nc"))
        .join(per, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("n_removable_windows", F.lit(0)).alias(
                "n_removable_windows"
            ),
            F.round(
                F.when(
                    F.col("_nc") > 0,
                    F.coalesce("_dup_chars", F.lit(0)) / F.col("_nc"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_char_frac"),
            F.round(
                F.when(
                    F.col("_nc") > 0,
                    F.coalesce("_rem_chars", F.lit(0)) / F.col("_nc"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("removable_char_frac"),
        )
    )


def substring_span_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 40,
    sample_mod: int = 1,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Exact-substring span REMOVAL (Lee et al. 2022 semantics on k-char
    windows): the corpus-wide first occurrence of every window survives;
    every later occurrence's span is cut, and each doc is rebuilt from the
    characters outside the union of its cut spans. Cuts merge when windows
    overlap, so "aaaa…" degenerates to its first k chars + nothing doubled.

    Per input doc: ``(id, n_chars, n_removed_chars, cleaned_text)``; docs
    shorter than ``k`` (or with no removable window) pass through intact.

    Scale shape: rank election shuffles (id, pos, hash) by hash; the gap
    sweep and reconstruction shuffle (id, pos) pairs and then (id,
    gap-bounds) — the TEXT rejoins only at the final per-doc assembly,
    via the doc-keyed join, so no shuffle ever carries window content. At
    100 TB, emit the (id, span) cut list instead of materializing
    ``cleaned_text`` and apply it at read time (same note as
    ``duplicate_passage_removal``)."""
    from pyspark.sql.window import Window

    rm = _ranked_windows(
        df, text_col, id_col, k, sample_mod, hash_family, with_count=False
    ).where(F.col("_rn") >= 2)
    sweep = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("pos") + k).over(sweep)
    gaps = rm.select(
        F.col(id_col),
        F.coalesce(prev_end, F.lit(1)).alias("gs"),
        F.col("pos").alias("ge"),
    ).where(F.col("ge") > F.col("gs"))
    base = df.select(
        F.col(id_col),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("_len"),
    )
    tails = (
        rm.groupBy(id_col)
        .agg(F.max(F.col("pos") + k).alias("gs"))
        .join(base.select(id_col, "_len"), on=id_col)
        .select(id_col, "gs", (F.col("_len") + 1).alias("ge"))
        .where(F.col("ge") > F.col("gs"))
    )
    # Every doc with ≥1 removable window must land in `rebuilt` even when
    # the cuts cover it entirely (no gap rows at all) — hence the left join
    # from the removable-doc list, not a bare groupBy over gap rows.
    segs = gaps.unionByName(tails)
    rebuilt = (
        rm.select(id_col)
        .distinct()
        .join(
            segs.groupBy(id_col).agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("gs"), F.col("ge")))
                ).alias("_segs")
            ),
            on=id_col,
            how="left",
        )
        .join(base, on=id_col)
        .select(
            F.col(id_col),
            F.when(F.col("_segs").isNull(), F.lit("")).otherwise(
                F.concat_ws(
                    "",
                    F.transform(
                        F.col("_segs"),
                        lambda s: F.substring(
                            F.col("_t"), s.gs, s.ge - s.gs
                        ),
                    ),
                )
            ).alias("_cleaned"),
        )
    )
    return base.join(rebuilt, on=id_col, how="left").select(
        F.col(id_col),
        F.col("_len").alias("n_chars"),
        (
            F.col("_len") - F.length(F.coalesce("_cleaned", F.col("_t")))
        ).alias("n_removed_chars"),
        F.coalesce("_cleaned", F.col("_t")).alias("cleaned_text"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric near-dup detection by shingle CONTAINMENT
    |A ∩ B| / |A|: catches a document embedded inside a larger one —
    the quote/boilerplate/subset case whose Jaccard is tiny (the union
    is dominated by the big doc) and which symmetric near-dup passes
    therefore miss. Broder's containment coefficient; the usual policy
    drops the CONTAINED (smaller) side.

    Emits both directions that clear the threshold: (id_a, id_b,
    containment) means "id_a is covered by id_b to `containment`".
    Blocking bounds the quadratic term exactly as in
    ngram_jaccard_pairs; at scale, block by LSH buckets or language."""
    cols = [F.col(id_col).alias("id"), shingles(text_col, shingle_n).alias("sh")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    sh = df.select(*cols)
    a, b = sh.alias("a"), sh.alias("b")
    on = [F.col("a.id") != F.col("b.id")]
    if block_col:
        on.insert(0, F.col("a.blk") == F.col("b.blk"))
    pairs = a.join(b, on=on)
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    denom = F.size("a.sh")
    cont = F.when(denom > 0, inter / denom).otherwise(F.lit(0.0))
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cont.alias("_c"),
        )
        .filter(F.col("_c") >= threshold)
        .select("id_a", "id_b", F.round("_c", 6).alias("containment"))
    )


def soft_dedup_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Down-weighting dedup: instead of DROPPING exact duplicates, keep
    every copy but assign a training weight ``1 / c^alpha`` where ``c`` is
    the size of the document's exact-duplicate cluster (alpha=1 makes each
    cluster contribute exactly one document's worth of gradient mass; the
    soft counterpart of exact_dedup, cf. data-juicer / RHO-style loss
    reweighting). Useful when downstream loss re-weighting is cheaper than
    re-sharding a filtered corpus.

    Output: one row per input doc — ``(id, cluster_size, weight)``.

    Scale shape: only (fingerprint, id) shuffles to count clusters — the
    count side aggregates map-side first — then the counts (one row per
    DISTINCT fingerprint, far smaller than the corpus under duplication)
    join back on the fingerprint; document bodies never shuffle. AQE
    broadcasts the count side when it fits, else it's a narrow-key SMJ.
    """
    from ningaloo_turtle_etl_spark.operators.text import with_fingerprint

    fp = with_fingerprint(df, text_col)
    sizes = (
        fp.select("fingerprint")
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    return (
        fp.select(id_col, "fingerprint")
        .join(sizes, on="fingerprint")
        .select(
            id_col,
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.round(
                F.lit(1.0) / F.pow(F.col("cluster_size").cast("double"), F.lit(alpha)),
                6,
            ).alias("weight"),
        )
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's DISTINCT
    word n-grams whose globally FIRST occurrence (by ascending id — the
    corpus ingestion order) is this document. The diversity/redundancy
    signal dual to dedup: a crawl whose late documents score near zero is
    re-crawling what the corpus already has; curation pipelines use it to
    prioritize genuinely new material under a token budget.

    Output: one row per doc — ``(id, n_grams, n_novel, novelty)``;
    sub-n-token docs contribute their whole text as one gram.

    Scale shape: shingling is map-only Catalyst; first-occurrence election
    is one (gram)-keyed min with map-side combine, and the scoring join
    back carries (gram, first_id) only — payloads never shuffle. The gram
    key space is corpus-sized but uniform (no skew); at 100 TB hash the
    gram to a 64-bit key before the shuffle to shrink rows."""
    grams = shingles(text_col, n)
    ex = df.select(F.col(id_col), F.explode(grams).alias("gram"))
    first = ex.groupBy("gram").agg(F.min(id_col).alias("_first"))
    per_doc = (
        ex.join(first, on="gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("_first") == F.col(id_col), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.round(
                F.coalesce(
                    F.col("n_novel") / F.col("n_grams").cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("novelty"),
        )
    )


def minhash_incremental_pairs(
    old_docs: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int | None = 500,
    hash_family: str = "md5",
) -> DataFrame:
    """Incremental MinHash+LSH: near-dup pairs INVOLVING the new batch —
    new x old and new x new, never old x old. The daily-increment shape:
    with O old docs and N new ones (N << O), the banded join probes only
    the buckets the new batch touches, so candidate work scales with N's
    bucket collisions instead of re-deduping the whole corpus.

    Exactly equal to ``minhash_near_dup_pairs`` over the union, restricted
    to pairs with at least one new id (bucket caps count over the union,
    matching the full run bit-for-bit — pinned in tests). Returns
    (id_a, id_b, jaccard) with id_a < id_b.

    Scale shape: signatures for the OLD side are recomputed here for
    self-containment; a production pipeline persists (id, sh, sig)
    next to the corpus (1-2% of its size) and feeds it in, making the
    old side a bucket-keyed probe with zero text rescans. Only the new
    side's buckets cross the join; verification touches old shingle sets
    solely for colliding candidates."""
    from pyspark import StorageLevel

    if hash_family not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    rows = num_hashes // bands
    shingle_hash = md5_hash60 if hash_family == "md5" else F.xxhash64

    union = old_docs.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("_is_new")
    ).unionByName(
        new_docs.select(
            F.col(id_col), F.col(text_col), F.lit(True).alias("_is_new")
        )
    )
    sh = union.select(
        F.col(id_col).alias("id"),
        "_is_new",
        shingles(text_col, shingle_n).alias("sh_str"),
    ).select(
        "id",
        "_is_new",
        "sh_str",
        F.array_distinct(
            F.transform("sh_str", lambda s: shingle_hash(s))
        ).alias("sh"),
    )
    # Same per-family signature as minhash_near_dup_pairs — the incremental
    # output is pinned bit-for-bit against the full run, so the two must
    # derive identical signatures.
    if hash_family == "md5":
        sig_expr = minhash_slots_from_hashes(F.col("sh"), num_hashes)
    else:
        sig_expr = minhash_signature(F.col("sh_str"), num_hashes)
    sig = _track_cache(
        sh.select("id", "_is_new", "sh", sig_expr.alias("sig")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    if hash_family == "md5":
        band_bucket = [
            fold_bucket(
                [F.col("sig")[b * rows + r] for r in range(rows)], F.lit(b)
            )
            for b in range(bands)
        ]
    else:
        band_bucket = [
            F.xxhash64(
                F.lit(b), *[F.col("sig")[b * rows + r] for r in range(rows)]
            )
            for b in range(bands)
        ]
    banded = sig.select(
        "id", "_is_new", F.explode(F.array(*band_bucket)).alias("bucket")
    )
    if max_bucket_size is not None:
        # Cap on the UNION's bucket sizes — identical to the full run, so
        # incremental output == full output restricted to new-id pairs.
        counts = banded.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bn"))
        banded = (
            banded.join(counts, on="bucket")
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    new_side = banded.filter(F.col("_is_new")).select("id", "bucket")
    cand = (
        new_side.alias("a")
        .join(
            banded.alias("b"),
            on=[
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.id") != F.col("b.id"),
            ],
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sets = sig.select("id", "sh", F.size("sh").alias("n_sh"))
    cand = cand.join(
        sets.select(
            F.col("id").alias("id_a"),
            F.col("sh").alias("sh_a"),
            F.col("n_sh").alias("n_a"),
        ),
        on="id_a",
    ).join(
        sets.select(
            F.col("id").alias("id_b"),
            F.col("sh").alias("sh_b"),
            F.col("n_sh").alias("n_b"),
        ),
        on="id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union_sz = F.col("n_a") + F.col("n_b") - inter
    jac = F.when(union_sz > 0, inter / union_sz).otherwise(F.lit(0.0))
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def cross_source_duplication(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_tokens: int | None = None,
) -> DataFrame:
    """Cross-source duplicate-leakage matrix: for every unordered source
    pair, how many exact-duplicate clusters span BOTH sources and how many
    documents they hold — the diagnostic that tells you whether two crawl
    feeds are re-scraping each other before you pay for cross-source
    near-dedup. Diagonal rows (source vs itself) count within-source
    duplicate clusters.

    Output: (source_a, source_b, n_clusters, n_docs) with
    source_a <= source_b; n_docs = total docs of the pair's two sources in
    those shared clusters.

    Scale shape: one (fingerprint, source) distinct + count agg (map-side
    combined, fingerprint-keyed shuffle of narrow rows); the pair explosion
    runs on the per-fingerprint source LISTS (sources-squared per
    fingerprint, sources are few). Document bodies never move.

    ``prefix_tokens``: fingerprint only the first k whitespace tokens
    instead of the whole text — the shared-opening (boilerplate header /
    template) leakage variant, which fires long before full-document
    equality does."""
    from ningaloo_turtle_etl_spark.operators.text import (
        tokens,
        with_fingerprint,
    )

    if prefix_tokens is not None:
        norm = F.lower(
            F.concat_ws(" ", F.slice(tokens(text_col), 1, int(prefix_tokens)))
        )
        fp = df.withColumn(
            "fingerprint", F.substring(F.md5(norm), 1, 16)
        )
    else:
        fp = with_fingerprint(df, text_col)
    fp = fp.select(
        "fingerprint", F.col(source_col).alias("src"), F.col(id_col)
    )
    per = fp.groupBy("fingerprint", "src").agg(
        F.count(F.lit(1)).alias("n_docs_src")
    )
    dup = per.groupBy("fingerprint").agg(
        F.collect_list(F.struct("src", "n_docs_src")).alias("srcs"),
        F.sum("n_docs_src").alias("n_total"),
    ).filter(F.col("n_total") > 1)
    pairs = dup.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        "srcs",
                        lambda a: F.transform(
                            "srcs",
                            lambda b: F.when(
                                (a.src < b.src)
                                | (
                                    (a.src == b.src)
                                    & (a.n_docs_src > 1)
                                ),
                                F.struct(
                                    a.src.alias("source_a"),
                                    b.src.alias("source_b"),
                                    (
                                        F.when(
                                            a.src == b.src, a.n_docs_src
                                        ).otherwise(
                                            a.n_docs_src + b.n_docs_src
                                        )
                                    ).alias("nd"),
                                ),
                            ),
                        ),
                    )
                ),
                lambda s: s.isNotNull(),
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("p.nd").cast("long").alias("n_docs"),
        )
    )


# --- winnowing fingerprints (MOSS) ------------------------------------------
def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003 —
    the MOSS local-fingerprinting algorithm): hash every word k-gram of
    the lowercased text, slide a window over ``window`` consecutive
    k-gram hashes, keep each window's MINIMUM hash, distinct per doc.
    The winnowing guarantee: any run of at least k + window − 1 shared
    tokens between two documents shares at least one selected
    fingerprint — so local overlap detection has a recall floor, unlike
    MinHash (whole-doc similarity) or the global min (one hash per doc).
    Density: ~2/(window+1) of the k-grams are selected, the storage dial.

    Returns one row per selected distinct fingerprint: (id, fp) —
    fp is the 60-bit md5 integer ``md5_hash60`` family, DuckDB-replayable.

    Scale shape: the whole select happens INSIDE one row via array
    expressions (k-gram build, per-gram hash, per-window min,
    array_distinct) — map-only, zero shuffle, no row-multiplying explode
    until the (id, fp) output rows; downstream joins move only
    fixed-width pairs. Two constant-factor lessons are baked in:

    * SHIFTED-ARRAY zip_with, not per-position transform+slice: both the
      k-gram build and the window-min formerly ran
      ``transform(indices, i -> f(slice(arr, i, len)))`` — one array
      allocation per POSITION inside an interpreted higher-order
      function. Zipping k (resp. ``window``) doc-level slices instead
      does the same work with k−1 string concats / window−1 ``least``
      calls per position and only k+window array allocations per DOC:
      measured 4.4 s → 1.7 s for the full fingerprint stage at 100k
      docs, identical fingerprints (same gram text, same md5).
    * The hash array still crosses a one-element explode(array(...))
      Generate node before the window stage: a measured 64× cliff hides
      here — CollapseProject inlines a non-cheap array expression into
      EVERY lambda that references it, so without the barrier the
      window-min zips would recompute the full md5 gram array per
      reference (557 s → 8.7 s at 100k docs when first found).
      Generators are collapse-proof, and one-row explode keeps the
      stage map-only.

    Reference analog: the tagging ETL's duplicate-sighting audit works at
    whole-record grain (`tagging-etl.Rmd:120-141`); this is the
    sub-document grain the reference never needed but a plagiarism /
    license-contamination pass over a 100 TB corpus does."""
    if k < 1 or window < 1:
        raise ValueError("k and window must be >= 1")
    from ningaloo_turtle_etl_spark.operators.text import tokens

    toks = tokens(F.lower(F.col(text_col)))
    n = F.size(toks)
    m = n - F.lit(k - 1)  # gram count when n >= k
    grams = F.slice(toks, 1, m)
    for o in range(1, k):
        grams = F.zip_with(
            grams,
            F.slice(toks, o + 1, m),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    # Documents shorter than k tokens have NO k-grams (the _ordered_ngrams
    # empty-array convention) — without the guard, a short doc would hash
    # a sub-k gram and two tiny unrelated docs could pair at
    # containment 1.0. The when() also keeps the negative-length slices
    # of the gram build unevaluated on short docs.
    hs = F.when(
        n >= k, F.transform(grams, lambda g: md5_hash60(g))
    ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
    barrier = df.select(
        F.col(id_col).alias("id"), F.explode(F.array(hs)).alias("_hs")
    )
    h = F.col("_hs")
    nw = F.size(h) - F.lit(window - 1)  # window count when size >= window
    wm = F.slice(h, 1, nw)
    for o in range(1, window):
        wm = F.zip_with(
            wm, F.slice(h, o + 1, nw), lambda x, y: F.least(x, y)
        )
    # size < window: the old index form degraded to min over the whole
    # (possibly empty) array — array_min(empty) is NULL, dropped below
    sels = F.array_distinct(
        F.when(F.size(h) >= window, wm).otherwise(
            F.array(F.array_min(h))
        )
    )
    return (
        barrier.select("id", F.explode(sels).alias("fp"))
        .where(F.col("fp").isNotNull())
        .distinct()
    )


def winnowing_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
    threshold: float = 0.5,
    max_fp_docs: int = 500,
) -> DataFrame:
    """Directed local-overlap pairs by winnowing-fingerprint containment:
    |fp(A) ∩ fp(B)| / |fp(A)| ≥ ``threshold`` — a row says id_a's
    selected regions are covered by id_b (quoting, partial plagiarism,
    license-text contamination), the asymmetric signal whole-doc Jaccard
    dilutes. Complements ``ngram_containment_pairs`` (exact shingle-set
    containment, all-pairs within a block): this one needs NO blocking
    column — candidates come from the inverted fingerprint index itself.

    Fingerprints present in more than ``max_fp_docs`` documents are
    dropped before pairing (the boilerplate/stop-fingerprint cap — MOSS's
    "ignore matches in too many documents" — which also hard-bounds the
    join fanout the way the LSH bucket caps do). Returns
    (id_a, id_b, n_shared, containment), 6dp.

    Scale shape: fingerprint grain only — one distinct (id, fp) frame,
    a frequency cap at fp grain, one fp-keyed self-join whose fanout is
    sum(fp_doc_count²) bounded by the cap, then a (pair)-grain count;
    document text is read exactly once and never moves."""
    fps = winnowing_fingerprints(df, text_col, id_col, k, window)
    from pyspark import StorageLevel

    fps = _track_cache(fps.persist(StorageLevel.MEMORY_AND_DISK))
    freq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_nd"))
    kept = fps.join(
        freq.filter(F.col("_nd") <= F.lit(int(max_fp_docs))).select("fp"),
        on="fp",
    )
    sizes = fps.groupBy("id").agg(F.count(F.lit(1)).alias("n_fp"))
    a = kept.select(F.col("id").alias("id_a"), "fp")
    b = kept.select(F.col("id").alias("id_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    cont = F.col("n_shared") / F.col("n_fp")
    return (
        shared.join(
            sizes.select(F.col("id").alias("id_a"), "n_fp"), on="id_a"
        )
        .filter(cont >= F.lit(float(threshold)))
        .select(
            "id_a", "id_b", "n_shared", F.round(cont, 6).alias("containment")
        )
    )


def _rationalize_threshold(t: float, max_den: int = 1_000_000) -> tuple[int, int]:
    """Recover the intended exact rational num/den from a float
    threshold (0.9 → (9, 10)). Any decimal threshold with ≤6 fractional
    digits round-trips exactly: the float is within 2⁻⁵³ of the intended
    rational and distinct rationals with den ≤ 10⁶ are ≥ 10⁻¹² apart,
    so ``limit_denominator`` lands on the intended one. Keeping den
    bounded also keeps every integer gate (num·n, den·(na+nb), …)
    far inside long range at corpus-scale set sizes."""
    from fractions import Fraction

    fr = Fraction(t).limit_denominator(max_den)
    return fr.numerator, fr.denominator


def _ppjoin_candidates(
    sets: DataFrame,
    t: float,
    max_token_docs: int | None = None,
    positional: bool = True,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs for ``ppjoin_pairs`` from a
    (id, s: array, n: int) frame: rarity-ranked prefix rows, length
    gate, and (by default) the positional filter. Exposed separately so
    tests can assert the positional filter's candidate-count win without
    touching the verified output; ``positional=False`` is the test-only
    A/B switch.

    All threshold gates use EXACT integer arithmetic: ``t`` is
    rationalized to num/den (recovering the intended decimal from the
    float, e.g. 0.9 → 9/10) and every ceil-of-float bound is rewritten
    as an integer inequality via ``ceil(a/b) <= c ⇔ a <= b*c``. The
    former float path pruned true boundary pairs — e.g. t=0.9 with a
    9-token subset of a 10-token set: ceil(0.9*(9+10)/1.9) evaluated as
    ceil(9.000000000000002)=10 while the true overlap floor is 9 —
    silently violating the EXACT completeness contract."""
    from pyspark.sql.window import Window

    num, den = _rationalize_threshold(t)

    tok = sets.select("id", "n", F.explode("s").alias("tk"))
    freq = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("_f"))
    w = Window.partitionBy("id").orderBy(F.asc("_f"), F.asc("tk"))
    ranked = tok.join(freq, on="tk").withColumn(
        "_rn", F.row_number().over(w)
    )
    # _rn <= n - ceil(t*n) + 1  ⇔  ceil(num*n/den) <= n - _rn + 1
    #                           ⇔  num*n <= den*(n - _rn + 1)
    prefix = ranked.filter(
        F.lit(num) * F.col("n")
        <= F.lit(den) * (F.col("n") - F.col("_rn") + F.lit(1))
    ).select("id", "n", "tk", "_rn")
    if max_token_docs is not None:
        if max_token_docs < 1:
            raise ValueError("max_token_docs must be >= 1")
        pfreq = prefix.groupBy("tk").agg(F.count(F.lit(1)).alias("_pf"))
        prefix = prefix.join(
            pfreq.filter(F.col("_pf") <= F.lit(int(max_token_docs))).select(
                "tk"
            ),
            on="tk",
        )
    a = prefix.select(
        F.col("id").alias("id_a"),
        F.col("n").alias("na"),
        F.col("_rn").alias("pa"),
        "tk",
    )
    b = prefix.select(
        F.col("id").alias("id_b"),
        F.col("n").alias("nb"),
        F.col("_rn").alias("pb"),
        "tk",
    )
    # Overlap floor α = ceil(t*(na+nb)/(1+t)) with t = num/den:
    # t/(1+t) = num/(den+num), so α = ceil(num*(na+nb)/(den+num)) and
    # ubound >= α  ⇔  num*(na+nb) <= (den+num)*ubound — exact integers.
    ubound = F.lit(1) + F.least(
        F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")
    )
    cand = (
        a.join(b, on="tk")
        .filter(F.col("id_a") < F.col("id_b"))
        # nb >= t*na ⇔ den*nb >= num*na; nb <= na/t ⇔ num*nb <= den*na
        .filter(
            (F.lit(den) * F.col("nb") >= F.lit(num) * F.col("na"))
            & (F.lit(num) * F.col("nb") <= F.lit(den) * F.col("na"))
        )
    )
    if positional:
        cand = cand.filter(
            F.lit(num) * (F.col("na") + F.col("nb"))
            <= F.lit(den + num) * ubound
        )
    return cand.select("id_a", "id_b").distinct()


def ppjoin_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_token_docs: int | None = None,
) -> DataFrame:
    """EXACT token-set Jaccard self-join via prefix filtering (the
    PPJoin family, Xiao et al. 2008) — every pair with
    |A∩B|/|A∪B| ≥ ``threshold``, found without the all-pairs product and
    without MinHash's probabilistic recall: two sets can only reach
    Jaccard t if each contributes a token from its PREFIX — the
    ⌈|s|−t·|s|⌉+1... precisely ℓ(s) = |s| − ⌈t·|s|⌉ + 1 — RAREST tokens
    (global-frequency order, ties by token: any fixed total order works;
    rarest-first keeps candidate buckets smallest). Candidates share a
    prefix token on BOTH sides, pass the length gate
    t·|a| ≤ |b| ≤ |a|/t AND the POSITIONAL filter (Xiao et al. 2008
    §3.2): a shared prefix token at 1-indexed rarity-rank positions
    (pa, pb) bounds the overlap by 1 + min(|a|−pa, |b|−pb), which must
    reach the Jaccard-equivalent overlap floor α = ⌈t·(|a|+|b|)/(1+t)⌉.
    The bound holds exactly for the pair's FIRST shared token in the
    global rarity order (every other shared token ranks later on both
    sides), so filter-then-distinct loses no true pair — it only prunes
    candidate rows before the distinct, the join's cost driver.
    Survivors verify exact Jaccard on the full sets.

    ``max_token_docs`` (default None = off, exact) is the degenerate-
    corpus escape hatch matching the cap discipline of the sibling
    families (MinHash bucket caps, winnowing ``max_fp_docs``, linkage
    block caps): prefix tokens carried by more than this many documents
    are dropped from candidate generation, hard-bounding per-token join
    fanout at cap². CAVEAT — unlike the positional filter this trades
    exactness for the bound: a true pair whose EVERY shared prefix
    token is capped is missed (plausible only on near-uniform
    token-frequency corpora, where the uncapped join degrades toward
    quadratic anyway).

    The deterministic-completeness counterpart of MinHash LSH (which
    trades recall for a band-tunable cost) and the set-similarity twin
    of the edit-distance Ed-Join (`operators/relational.py
    edit_similarity_self_join`). Returns (id_a, id_b, jaccard) 6dp; the
    threshold gates the unrounded value.

    Scale shape: the frequency dim aggregates map-side at token grain;
    prefixes are a per-doc window over the token-rank frame; the
    candidate join moves only (id, token) prefix rows — rare tokens by
    construction, so buckets stay small — and verification joins the
    per-doc distinct-token arrays (1-2% of corpus size) by id
    equality."""
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    from ningaloo_turtle_etl_spark.operators.text import tokens

    t = float(threshold)
    sets = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokens(F.lower(F.col(text_col)))).alias("s"),
    ).withColumn("n", F.size("s"))
    sets = sets.filter(F.col("n") > 0)
    cand = _ppjoin_candidates(sets, t, max_token_docs=max_token_docs)
    sa = sets.select(F.col("id").alias("id_a"), F.col("s").alias("sa"),
                     F.col("n").alias("na"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("s").alias("sb"),
                     F.col("n").alias("nb"))
    num, den = _rationalize_threshold(t)
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.col("na") + F.col("nb") - inter
    jac = inter / union
    # jac >= t exactly: inter/union >= num/den ⇔ den*inter >= num*union
    return (
        cand.join(sa, on="id_a")
        .join(sb, on="id_b")
        .filter(F.lit(den) * inter >= F.lit(num) * union)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )
