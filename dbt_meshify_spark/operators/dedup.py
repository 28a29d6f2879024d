"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All hot paths are JVM-side: tokenization/shingling/hashing use Spark's
higher-order array functions (``transform``/``aggregate``/``sequence``) over
``xxhash64``, so whole-stage codegen applies and no Python executes per row.

Scale design (100 TB posture):
- Signature computation is embarrassingly parallel (narrow projections).
- Candidate generation shuffles once on (band_id, band_hash) — bucket sizes
  are bounded by banding parameters, and the pair join is per-bucket, never a
  global cross join.
- Hot buckets (boilerplate docs) are capped via ``max_bucket_size`` before
  pairing: a bucket with b docs yields b^2 pairs, so an uncapped 1M-doc
  bucket would dominate the job. Capped buckets are reported, not silently
  dropped (callers can route them to a second pass).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbt_meshify_spark.operators.util import spread

# Mersenne prime 2^31-1 as the universal-hash modulus. The modulus must be
# SMALL relative to the a*h product range: with a, h < 2^31 the product
# spans ~2^62, i.e. ~2^31 multiples of P, so each affine map is a
# well-mixed permutation. (A 2^61-1 modulus here would wrap at most twice,
# leaving all "permutations" order-correlated and MinHash agreement badly
# biased — observed empirically before this was fixed.) Products stay under
# 2^62, inside signed-long range even with ANSI overflow checking on.
_P = (1 << 31) - 1
_SEED = 42


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for h_i(x) = (a*x + b) mod P.

    Coefficients and reduced hash values both live in [0, P) with P=2^31-1,
    so a*x + b stays under 2^62 — no long overflow even with ANSI mode on
    (Spark 4 default), where overflow throws instead of wrapping.
    """
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(num_hashes)]


def tokens_col(text: Column) -> Column:
    """Lower-cased whitespace tokens."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def shingles_of_tokens(toks: Column, n: int, distinct: bool = True) -> Column:
    """Word n-grams from an (already staged) token-array column.

    Pure array expression: sequence over start positions + transform, no
    explode, no UDF. ``toks`` MUST be a bound column attribute (staged via
    ``withColumn``), not an inline ``split(...)`` expression: Spark disables
    common-subexpression elimination inside higher-order-function lambdas, so
    an inline token expression is re-split once per reference — measured 11s
    vs 0.8s for the trigram stage over 5k docs at sf0.1.

    ``distinct=True`` (the dedup/decontam default) dedupes grams within the
    doc; ``distinct=False`` keeps every occurrence in order (needed by
    repetition metrics, where multiplicity IS the signal).
    """
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams) if distinct else grams


def _with_tokens(df: DataFrame, text_col: str, out_col: str = "__toks") -> DataFrame:
    """Spread parallelism and stage the token array once as a real column."""
    return spread(df).withColumn(out_col, tokens_col(F.col(text_col)))


def exact_dedup(
    df: DataFrame, keys: list[str], order_by: list[str] | None = None
) -> DataFrame:
    """Keep-first exact dedup with a deterministic tie-break (N1).

    Reference analog: dbt incremental ``unique_key`` upsert semantics
    (/root/reference/test-projects/split/split_proj/models/marts/orders.sql:4).

    Plan (re-based round 11): a ``min_by`` AGGREGATE, not a ``row_number``
    window. For a total ``order_by`` (the determinism contract — callers
    pass a unique id) the two are row-identical, but the aggregate
    PARTIAL-aggregates map-side: a hot duplicate key (one boilerplate page
    can be 30% of a raw crawl) ships at most ONE candidate row per input
    partition across the shuffle, where the window form funnels every copy
    through a single un-splittable task (AQE cannot split a skewed WINDOW
    partition — the round-11 skew-probe finding). The aggregate also skips
    the window's per-partition sort. Ordering: ``min_by`` on a
    ``struct(order_cols)`` key — struct comparison is field-wise with
    nulls first, the same default as the window's ``asc_nulls_first``, and
    a struct of columns is never itself NULL, so no row can be silently
    ignored.
    """
    order_cols = order_by or keys
    picked = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.min_by(
            F.struct(*[F.col(c) for c in df.columns]),
            F.struct(*[F.col(c) for c in order_cols]),
        ).alias("__row")
    )
    return picked.select(
        *[picked["__row"][c].alias(c) for c in df.columns]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 128,
    shingle_size: int = 3,
    seed: int = _SEED,
    out_col: str = "minhash",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Append an array<bigint> MinHash signature of the text's word shingles.

    sig[i] = min over shingles s of (a_i * h(s) + b_i) mod P, with
    h = xxhash64 reduced mod P. A projection plus one broadcast crossJoin —
    no shuffle, codegen'd end to end.

    Structure matters enormously here, in two ways:
    1. The shingle hashes are staged ONCE into an intermediate array column.
       A formulation whose lambda recomputes the shingle expression per slot
       re-hashes every shingle 128x — measured 97s for 500 docs vs <1s.
    2. The (a_i, b_i) coefficients arrive as DATA — a one-row broadcast
       ``__params array<struct<a,b>>`` walked by a single ``transform`` —
       not as 128 unrolled sibling ``array_min`` expressions with literal
       coefficients. Unrolled siblings are marginally faster warm (~0.9s vs
       1.7s at sf0.1) but cost ~4s of whole-stage-codegen compile cold
       (13.1s vs 9.4s for the full near-dup job); per-round cold runs are
       what the bench measures, and on a cluster a 4s one-time compile is
       noise either way. The crossJoin is also what keeps (1) safe: it
       blocks CollapseProject from inlining the staged hash array into the
       lambda (verified: xxhash64 appears once in the optimized plan).
    """
    from pyspark.sql import types as T

    if hash_fn == "md5":
        # Cross-engine-reproducible variant: sig[i] = min over shingles of
        # md5(i || '|' || shingle) compared as lowercase-hex STRINGS (the
        # lexicographic min of fixed-width hex IS the numeric min) — the
        # textbook k-independent-hash MinHash, replayable verbatim in any
        # engine with md5 (the DuckDB oracle does). Slower than the
        # universal-hash form (k md5 calls per shingle vs 1 xxhash64), so
        # it is the correctness-gate tier, not the scale default. Docs with
        # no shingles (< shingle_size tokens) are dropped: they have no
        # signature and can never pair.
        # Salts travel as DATA through a broadcast crossJoin — the same
        # barrier the xxhash path uses for its (a,b) params: without it
        # CollapseProject inlines the staged shingle array into the outer
        # lambda and the whole shingle pipeline re-evaluates once per
        # signature slot (k x; measured 11 s vs ~4 s at sf0.1).
        salts_df = df.sparkSession.createDataFrame(
            [(list(range(num_hashes)),)], "__salts array<int>"
        )
        staged = (
            _with_tokens(df, text_col)
            .withColumn("__mh_s", shingles_of_tokens(F.col("__toks"), shingle_size))
            .drop("__toks")
            .filter(F.size("__mh_s") > 0)
            .crossJoin(F.broadcast(salts_df))
        )
        sig = F.transform(
            F.col("__salts"),
            lambda i: F.array_min(
                F.transform(
                    F.col("__mh_s"),
                    lambda s: F.md5(F.concat(i.cast("string"), F.lit("|"), s)),
                )
            ),
        )
        return staged.withColumn(out_col, sig).drop("__mh_s", "__salts")

    params = _hash_params(num_hashes, seed)
    params_df = df.sparkSession.createDataFrame(
        [([{"a": a, "b": b} for a, b in params],)],
        T.StructType(
            [
                T.StructField(
                    "__params",
                    T.ArrayType(
                        T.StructType(
                            [
                                T.StructField("a", T.LongType()),
                                T.StructField("b", T.LongType()),
                            ]
                        )
                    ),
                )
            ]
        ),
    )
    staged = (
        _with_tokens(df, text_col)
        .withColumn(
            "__mh_h",
            F.transform(
                shingles_of_tokens(F.col("__toks"), shingle_size),
                lambda s: F.pmod(F.xxhash64(s), F.lit(_P).cast("long")),
            ),
        )
        .drop("__toks")
        .crossJoin(F.broadcast(params_df))
    )
    sig = F.transform(
        F.col("__params"),
        lambda p: F.array_min(
            F.transform(
                F.col("__mh_h"),
                lambda h: F.pmod(p["a"] * h + p["b"], F.lit(_P).cast("long")),
            )
        ),
    )
    return staged.withColumn(out_col, sig).drop("__mh_h", "__params")


def _minhash_md5_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_size: int,
) -> DataFrame:
    """(id, minhash array<string>) via explode + k min-aggregates.

    Spark's higher-order functions evaluate INTERPRETED (no whole-stage
    codegen inside lambdas), so the nested transform/array_min form of the
    salted-md5 signature runs ~5x slower than its work content. Exploding
    shingles to rows and taking ``num_hashes`` codegen'd MIN aggregates
    computes the identical signature in one fully-codegen pass + one
    map-side-combined shuffle on id (measured 9.4 s -> ~1.5 s at sf0.1).
    Docs with no shingles drop out in the explode — same semantics as the
    HOF form's size filter.

    Hash slot i is a 6-nibble (24-bit) SLICE of a salted digest —
    ``substring(md5((i/5)|shingle), (i%5)*6, 6)`` — so 5 independent hash
    functions share one md5 evaluation: ceil(k/5) digests per shingle
    instead of k (16 salted md5 calls -> 4; measured another ~2x off the
    signature pass at sf0.1). 24 bits is ample for per-doc minima (a doc
    has 10^2-10^3 shingles; collision odds per slot ~n/16.7M) and the
    DuckDB oracle replays the same slicing verbatim.
    """
    exploded = (
        _with_tokens(df.select(id_col, text_col), text_col)
        .select(
            F.col(id_col),
            F.explode(
                shingles_of_tokens(F.col("__toks"), shingle_size)
            ).alias("__s"),
        )
    )
    per_digest = 5  # 5 x 6-nibble slices from 30 of the 32 digest nibbles
    mins = [
        F.min(
            F.substring(
                F.md5(F.concat(F.lit(f"{i // per_digest}|"), F.col("__s"))),
                (i % per_digest) * 6 + 1,
                6,
            )
        ).alias(f"__m{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*mins).select(
        F.col(id_col),
        F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("minhash"),
    )


def dedup_keep_priority(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    priority_col: str = "priority",
) -> DataFrame:
    """Cross-SOURCE dedup: within each near-dup cluster keep the member
    with the lowest ``(priority, id)`` — the multi-dataset curation rule
    (curated wiki beats books beats raw crawl when they collide), vs
    ``dedup_clusters``'s source-blind keep-min-id.

    Returns ``id_col, cluster_id, kept_by, is_kept``. Keys-only dataflow:
    components resolve over ids, the winner election is a window over the
    (id, priority) frame — payloads never enter a shuffle; callers re-join
    the output on id. At 100 TB the window partitions by cluster_id, whose
    cardinality ~= doc count and whose partitions are cluster-sized (small
    by construction of the pair caps) — no global sort, no skew beyond the
    capped cluster sizes.
    """
    comp = connected_components(pairs)
    slim = df.select(F.col(id_col), F.col(priority_col))
    clustered = (
        slim.join(comp, slim[id_col] == comp.id, "left")
        .drop("id")
        .withColumn("cluster_id", F.coalesce(F.col("component"), F.col(id_col)))
        .drop("component")
    )
    w = (
        Window.partitionBy("cluster_id")
        .orderBy(F.col(priority_col).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return clustered.select(
        F.col(id_col),
        "cluster_id",
        F.first(id_col).over(w).alias("kept_by"),
    ).withColumn("is_kept", F.col(id_col) == F.col("kept_by"))


def _band_key_array(rows_per_band: int, bands: int, hash_fn: str):
    """``array<string>`` of LSH band keys over a ``minhash`` column: band i
    hashes signature slots [i*rows_per_band, ...). md5-of-joined-hex for the
    cross-engine tier (DuckDB replays it verbatim), xxhash64 for scale."""
    if hash_fn == "md5":
        band_of = lambda i: F.md5(
            F.concat_ws(
                "|", F.slice(F.col("minhash"), i * rows_per_band + 1, rows_per_band)
            )
        )
    else:
        band_of = lambda i: F.xxhash64(
            F.slice(F.col("minhash"), i * rows_per_band + 1, rows_per_band)
        ).cast("string")
    return F.array(*[band_of(i) for i in range(bands)])


def _minhash_sigs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_size: int,
    seed: int,
    hash_fn: str,
) -> DataFrame:
    """(id, minhash) signature table in the requested hash tier."""
    if hash_fn == "md5":
        return _minhash_md5_signatures(df, id_col, text_col, num_hashes, shingle_size)
    return minhash_signatures(
        df.select(id_col, text_col), text_col, num_hashes, shingle_size, seed,
        hash_fn=hash_fn,
    ).select(id_col, "minhash")


def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_size: int = 3,
    seed: int = _SEED,
    hash_fn: str = "md5",
    max_bucket_size: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Build a PERSISTABLE near-dup index over a corpus: returns
    ``(signatures, band_index)`` — ``signatures`` is ``(id, minhash)``,
    ``band_index`` is ``(id, band_idx, band_hash)``.

    This is the continuous-curation shape: a 100 TB corpus is indexed ONCE
    (both frames written to parquet, ``band_index`` ideally bucketed by
    ``(band_idx, band_hash)``), and each incoming batch probes the stored
    index via ``incremental_neardup_pairs`` — the corpus text is never
    re-read, never re-hashed, never reshuffled per batch. The hot-bucket
    cap is applied HERE, at build time, so probes are plain equi-joins with
    no window pass over the index.
    """
    assert num_hashes % bands == 0
    sigged = _minhash_sigs(
        df, id_col, text_col, num_hashes, shingle_size, seed, hash_fn
    ).localCheckpoint(eager=False)
    banded = sigged.select(
        id_col,
        F.posexplode(
            _band_key_array(num_hashes // bands, bands, hash_fn)
        ).alias("band_idx", "band_hash"),
    )
    bucket_w = Window.partitionBy("band_idx", "band_hash").orderBy(id_col)
    banded = (
        banded.withColumn("__bn", F.row_number().over(bucket_w))
        .filter(F.col("__bn") <= max_bucket_size)
        .drop("__bn")
    )
    return sigged.select(id_col, "minhash"), banded


def incremental_neardup_pairs(
    new_docs: DataFrame,
    index_bands: DataFrame,
    index_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_size: int = 3,
    seed: int = _SEED,
    hash_fn: str = "md5",
    min_jaccard_est: float = 0.5,
) -> DataFrame:
    """Near-dups of an incoming batch AGAINST a stored corpus index (built
    by ``minhash_index`` with the SAME parameters). Returns
    ``new_id, dup_of, jaccard_est`` — batch docs whose estimated Jaccard
    with some indexed doc clears the threshold.

    Scale shape: only the batch computes signatures (one scan of the new
    data); candidates come from an equi-join of batch band keys against the
    stored band index (pre-capped at build time); the Jaccard estimate
    re-joins the batch's computed signatures and the STORED signature table
    on candidate ids only. The indexed corpus is never re-tokenized —
    per-batch cost is O(batch + matches), independent of corpus size.
    Batch-internal duplicates are a separate concern (run
    ``minhash_candidate_pairs`` on the batch alone).
    """
    assert num_hashes % bands == 0
    sig_new = _minhash_sigs(
        new_docs, id_col, text_col, num_hashes, shingle_size, seed, hash_fn
    ).localCheckpoint(eager=False)
    banded_new = sig_new.select(
        F.col(id_col).alias("new_id"),
        F.posexplode(
            _band_key_array(num_hashes // bands, bands, hash_fn)
        ).alias("band_idx", "band_hash"),
    )
    idx = index_bands.select(
        F.col(id_col).alias("dup_of"), "band_idx", "band_hash"
    )
    cand = (
        banded_new.join(idx, ["band_idx", "band_hash"])
        .select("new_id", "dup_of")
        .dropDuplicates(["new_id", "dup_of"])
    )
    sa = sig_new.select(F.col(id_col).alias("new_id"), F.col("minhash").alias("sig_a"))
    sb = index_sigs.select(
        F.col(id_col).alias("dup_of"), F.col("minhash").alias("sig_b")
    )
    pairs = cand.join(sa, "new_id").join(sb, "dup_of")
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    return (
        pairs.withColumn("jaccard_est", agree / F.lit(float(num_hashes)))
        .filter(F.col("jaccard_est") >= min_jaccard_est)
        .select("new_id", "dup_of", F.round("jaccard_est", 4).alias("jaccard_est"))
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_size: int = 3,
    seed: int = _SEED,
    min_jaccard_est: float = 0.5,
    max_bucket_size: int = 1000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (N2).

    banding: signature split into ``bands`` bands of ``num_hashes/bands``
    rows; docs agreeing on any full band land in the same bucket. The output
    carries ``jaccard_est`` — the fraction of agreeing minhashes — filtered
    at ``min_jaccard_est``.

    Returns columns: id_a, id_b (id_a < id_b), jaccard_est.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # Materialize the signature table once: the banding pass AND both
    # post-dedup signature joins read it, and recomputing the signature
    # lineage (k hashes per shingle — expensive in the md5 tier) three
    # times would swamp the shuffle savings of ids-only banding. The
    # signature table is (id, k slots) — orders of magnitude narrower than
    # the corpus text it derives from.
    if hash_fn == "md5":
        sigged = _minhash_md5_signatures(
            df, id_col, text_col, num_hashes, shingle_size
        ).localCheckpoint(eager=False)
    else:
        sigged = (
            minhash_signatures(
                df.select(id_col, text_col), text_col, num_hashes,
                shingle_size, seed, hash_fn=hash_fn,
            )
            .select(id_col, "minhash")
            .localCheckpoint(eager=False)
        )

    band_arr = _band_key_array(rows_per_band, bands, hash_fn)
    # ids + band keys ONLY through the banding shuffle: a 128-slot signature
    # is ~1 KB/row and the explode multiplies it by ``bands`` — at corpus
    # scale that payload dominates the shuffle. Signatures re-join on id
    # AFTER pair dedup, when each survives exactly once per side (same
    # discipline as the embedding-LSH path, _lsh_scored_pairs).
    banded = sigged.select(
        id_col, F.posexplode(band_arr).alias("band_idx", "band_hash")
    )
    # Cap pathological buckets before the self-join (see module docstring).
    bucket_w = Window.partitionBy("band_idx", "band_hash").orderBy(id_col)
    banded = banded.withColumn("__bn", F.row_number().over(bucket_w)).filter(
        F.col("__bn") <= max_bucket_size
    )
    # pinned (r14, the self-LSH discipline from _lsh_scored_pairs): the
    # capped band index feeds BOTH self-join sides — unpinned, the
    # banding explode AND the bucket-cap window (a full shuffle+sort of
    # the band relation) executed once per side. (id, band_idx,
    # band_hash) only — ids and two keys per band, never signatures.
    banded = banded.select(id_col, "band_idx", "band_hash").localCheckpoint(
        eager=False
    )

    a = banded.select(
        F.col("band_idx"), F.col("band_hash"), F.col(id_col).alias("id_a")
    )
    b = banded.select(
        F.col("band_idx").alias("band_idx_b"),
        F.col("band_hash").alias("band_hash_b"),
        F.col(id_col).alias("id_b"),
    )
    cand = (
        a.join(
            b,
            (a.band_idx == b.band_idx_b)
            & (a.band_hash == b.band_hash_b)
            & (a.id_a < b.id_b),
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sigged.select(
        F.col(id_col).alias("id_a"), F.col("minhash").alias("sig_a")
    )
    sig_b = sigged.select(
        F.col(id_col).alias("id_b"), F.col("minhash").alias("sig_b")
    )
    pairs = cand.join(sig_a, "id_a").join(sig_b, "id_b")
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    return (
        pairs.withColumn("jaccard_est", agree / F.lit(float(num_hashes)))
        .filter(F.col("jaccard_est") >= min_jaccard_est)
        .select("id_a", "id_b", F.round("jaccard_est", 4).alias("jaccard_est"))
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "simhash",
) -> DataFrame:
    """Append a 64-bit SimHash of the text's tokens (N2 family).

    bit i of the result is the sign of sum over tokens of ±1 according to bit
    i of xxhash64(token). Pure nested array expression — no shuffle beyond
    the small-input parallelism spread. The hashed-token array is staged as a
    real column so the 64 per-bit aggregates share one tokenize+hash pass
    (inline, each would re-evaluate it — no CSE inside lambdas).
    """
    df = _with_tokens(df, text_col).withColumn(
        "__sh_h", F.transform(F.col("__toks"), lambda t: F.xxhash64(t))
    )
    hs = F.col("__sh_h")

    # NB: capture the bit index via a closure factory — a default-argument
    # lambda (lambda acc, h, i=i: ...) reads as a 3-arg lambda to pyspark's
    # higher-order-function binder and mis-binds the extra parameter.
    def _vote(i: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    result = F.lit(0).cast("long")
    for i in range(64):
        vote = F.aggregate(hs, F.lit(0).cast("long"), _vote(i))
        bit = (1 << i) if i < 63 else -(1 << 63)  # bit 63 = long sign bit
        result = result.bitwiseOR(
            F.when(vote > 0, F.lit(bit).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return df.withColumn(out_col, result).drop("__toks", "__sh_h")


def hash64_candidate_pairs(
    hashed: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Near-dup pairs of any 64-bit fingerprint column within
    ``max_hamming`` bits — the pigeonhole banding core shared by SimHash
    (text) and dHash (images): the hash splits into ``bands`` chunks; any
    pair within max_hamming <= bands-1 agrees on at least one chunk, so
    the bucket join on (chunk_idx, chunk_value) finds all such pairs with
    one shuffle. Verification = bit_count(xor) <= max_hamming. Returns
    ``id_a, id_b, hamming``.

    ``max_bucket_size`` caps hot (chunk_idx, chunk_value) buckets with the
    same deterministic windowed row_number cut as the md5 tier
    (``simhash_md5_candidate_pairs``): a homogeneous corpus — blank
    frames, silence, boilerplate — collapses many rows onto one chunk
    value, and an uncapped bucket makes the self-join quadratic at scale.
    Rows past the cap are NOT dropped: each overflow row emits exactly one
    candidate pair against the bucket's representative (its first id), so
    a whale bucket of b rows costs cap^2 + (b - cap) candidates instead of
    b^2, and identical fingerprints past the cap still hamming-verify and
    cluster through the representative rather than leaking out as
    singletons. What the cap DOES trade away is cross-pairs among
    overflow rows whose only agreeing chunk is the capped one AND whose
    hashes differ from the representative's by > max_hamming — bounded,
    documented recall loss on heterogeneous hot buckets.
    """
    width = 64 // bands
    # pin the (id, hash) frame: BOTH self-join sides and the cap window
    # read it, and upstream lineage is often a Python fingerprint pass
    # (dHash / audio envelope mapInPandas) that must not run per-branch —
    # unpinned, ext_image_neardup paid its synth+decode UDFs twice
    hashed = hashed.select(id_col, hash_col).localCheckpoint(eager=False)
    chunks = F.array(
        *[
            F.shiftright(F.col(hash_col), i * width).bitwiseAND(F.lit((1 << width) - 1))
            for i in range(bands)
        ]
    )
    banded = hashed.select(
        id_col, hash_col, F.posexplode(chunks).alias("cidx", "cval")
    )
    bucket_w = Window.partitionBy("cidx", "cval").orderBy(id_col)
    # first() over the ordered window = the bucket's min-id row: computed in
    # the same window exec as the row_number, no extra shuffle
    numbered = (
        banded.withColumn("__bn", F.row_number().over(bucket_w))
        .withColumn("__rep_id", F.first(id_col).over(bucket_w))
        .withColumn("__rep_h", F.first(hash_col).over(bucket_w))
    )
    kept = numbered.filter(F.col("__bn") <= max_bucket_size)
    a = kept.select(
        "cidx", "cval", F.col(id_col).alias("id_a"), F.col(hash_col).alias("sh_a")
    )
    b = kept.select(
        F.col("cidx").alias("cidx_b"),
        F.col("cval").alias("cval_b"),
        F.col(id_col).alias("id_b"),
        F.col(hash_col).alias("sh_b"),
    )
    pairs = (
        a.join(b, (a.cidx == b.cidx_b) & (a.cval == b.cval_b) & (a.id_a < b.id_b))
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
    )
    # overflow rows (bn > cap) link to their bucket representative only:
    # rep_id < id always (rep is the bucket min), so the id_a < id_b
    # invariant holds by construction
    overflow = numbered.filter(F.col("__bn") > max_bucket_size).select(
        F.col("__rep_id").alias("id_a"),
        F.col(id_col).alias("id_b"),
        F.bit_count(F.col("__rep_h").bitwiseXOR(F.col(hash_col))).alias("hamming"),
    )
    return (
        pairs.unionByName(overflow)
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def _simhash64_by_id(
    df: DataFrame, id_col: str, text_col: str, out_col: str = "simhash"
) -> DataFrame:
    """(id, simhash): identical fingerprints to :func:`simhash`, via
    explode + lane-packed codegen vote aggregates instead of 64
    interpreted per-bit array HOF aggregates (optimization r14, guide
    §2.3/§4.2 — Spark HOF lambdas evaluate interpreted, so the
    projection form pays ~64 interpreted passes over the token array;
    k-way fan-out work belongs on explode + k codegen aggregates).

    Same lane packing as ``simhash_md5_candidate_pairs``: vote bit j of a
    token is bit j of xxhash64(token); sum(±1 by bit j) > 0 <=>
    2*ones_j > T. Three 21-bit counter lanes per long — 22 SUMs + one
    COUNT, map-side combined, one shuffle of 23 longs per id. Edge
    semantics match :func:`simhash` exactly: a null/empty token array
    (null text) yields fingerprint 0 with the doc retained
    (explode_outer + null-guarded lanes), and empty-string tokens vote
    like any other token. Costs one id-keyed shuffle the projection form
    avoids, but the shuffle carries 23 longs per doc (map-side combined)
    while the per-token work drops from 64 interpreted lambda passes to
    one codegen pass — the trade that won ~5x on the md5 MinHash tier.
    """
    ex = (
        _with_tokens(df.select(id_col, text_col), text_col)
        .select(F.col(id_col), F.explode_outer("__toks").alias("__t"))
        .withColumn("__xh", F.xxhash64("__t"))
    )

    def _vote_bit(j: int) -> Column:
        return F.shiftright(F.col("__xh"), j).bitwiseAND(F.lit(1).cast("long"))

    _LANES, _LANE_BITS = 3, 21
    n_packed = (64 + _LANES - 1) // _LANES
    packed = []
    for kk in range(n_packed):
        e = None
        for m in range(_LANES):
            j = kk * _LANES + m
            if j >= 64:
                break
            term = (
                F.shiftleft(_vote_bit(j), _LANE_BITS * m) if m else _vote_bit(j)
            )
            e = term if e is None else e.bitwiseOR(term)
        # null token (null/empty array doc): contribute nothing to any lane
        packed.append(
            F.sum(F.when(F.col("__t").isNotNull(), e)).alias(f"__pk{kk}")
        )
    result = F.lit(0).cast("long")
    lane_mask = F.lit((1 << _LANE_BITS) - 1).cast("long")
    tc = F.col("__tc")
    for j in range(64):
        kk, m = divmod(j, _LANES)
        ones = F.shiftright(
            F.coalesce(F.col(f"__pk{kk}"), F.lit(0).cast("long")), _LANE_BITS * m
        ).bitwiseAND(lane_mask)
        bit = (1 << j) if j < 63 else -(1 << 63)
        result = result.bitwiseOR(
            F.when(ones * 2 > tc, F.lit(bit).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return (
        ex.groupBy(id_col)
        .agg(*packed, F.count("__t").alias("__tc"))
        .select(F.col(id_col), result.alias(out_col))
    )


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """SimHash near-dup pairs within ``max_hamming`` bits (the
    ``hash64_candidate_pairs`` banding over the text SimHash; fingerprints
    come from the aggregate form ``_simhash64_by_id`` — identical values
    to :func:`simhash`, codegen instead of interpreted HOF lambdas)."""
    hashed = _simhash64_by_id(df, id_col, text_col)
    return hash64_candidate_pairs(
        hashed,
        id_col,
        "simhash",
        max_hamming=max_hamming,
        bands=bands,
        max_bucket_size=max_bucket_size,
    )


def simhash_md5_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """SimHash near-dup with md5-digest bit hashes — the cross-engine tier.

    bit j of a doc = sign of sum over tokens of +-1 according to the high
    bit of hex nibble j%32 of md5((j/32)|token) (classic SimHash: each
    digest nibble is an independent vote, two salted digests cover 64
    bits); fully replayable in any engine with md5, so this variant is
    oracle-checked end-to-end, closing the loop the xxhash64 ``simhash``
    scale tier cannot. Same pigeonhole banding and hamming verify as
    ``simhash_candidate_pairs``, over bit-STRING chunks.

    64 bits / 4 bands matches the xxhash production tier's geometry for a
    reason beyond parity: 32 bits means 8-bit band chunks — 256 possible
    values per band — and real-corpus sign bits are correlated enough
    that at sf0.1 (10k docs) the banding emitted 2.47M candidate pairs
    (verify join was ~5.6 s of the query). 16-bit chunks make bucket
    membership selective again. An earlier form salted k md5 calls per
    token; the digest-nibble form is ceil(bits/32) md5 calls + ``bits``
    codegen'd substrings per token, ~5x faster end-to-end.
    """
    assert bits == 64, "the long-fingerprint core is 64-bit"
    assert 64 % bands == 0
    n_salt = (bits + 31) // 32
    # Explode tokens, hash each ONCE per salt, then LANE-PACKED vote
    # counters (optimization r14, guide §2.3/§4.2): the per-bit ±1 vote
    # sum is equivalent to counting set bits — sum(±1 by bit j) =
    # 2*ones_j - T with T the doc's token count — so the 64 per-bit
    # substring-compare SUM aggregates become ceil(64/3) = 22 SUMs of
    # longs carrying three 21-bit counter lanes each, built from pure
    # codegen integer ops: each digest's 32 hex chars parse into four
    # 32-bit chunk longs (conv), and vote bit j is the HIGH bit of
    # nibble j%32, i.e. bit 31-4*(j%32%8) of chunk (j%32)//8. Aggregate
    # state shrinks 64 -> 23 longs per id (map-side partial aggregates
    # shuffle ~2.8x fewer bytes) and the per-row work is 8 conv calls +
    # 64 shift/mask ops instead of 64 string substring-compares.
    # Exactness bound: a 21-bit lane saturates at 2^21-1 = 2,097,151
    # tokens PER DOCUMENT (a ~10 MB single doc) — far above any real
    # document; the previous form had no bound but paid string ops.
    exploded = (
        _with_tokens(df.select(id_col, text_col), text_col)
        .select(F.col(id_col), F.explode("__toks").alias("__t"))
        .select(
            F.col(id_col),
            *[
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{g}|"), F.col("__t"))),
                        c * 8 + 1,
                        8,
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias(f"__c{g * 4 + c}")
                for g in range(n_salt)
                for c in range(4)
            ],
        )
    )

    def _vote_bit(j: int) -> Column:
        # high bit of hex nibble j%32 of digest j//32, as 0/1 long
        g, p = divmod(j, 32)
        cc, q = divmod(p, 8)
        return F.shiftright(F.col(f"__c{g * 4 + cc}"), 31 - 4 * q).bitwiseAND(
            F.lit(1).cast("long")
        )

    _LANES, _LANE_BITS = 3, 21
    n_packed = (bits + _LANES - 1) // _LANES
    packed = []
    for kk in range(n_packed):
        e = None
        for m in range(_LANES):
            j = kk * _LANES + m
            if j >= bits:
                break
            term = (
                F.shiftleft(_vote_bit(j), _LANE_BITS * m) if m else _vote_bit(j)
            )
            e = term if e is None else e.bitwiseOR(term)
        packed.append(F.sum(e).alias(f"__pk{kk}"))
    # Pack the vote signs into ONE 64-bit long (same construction as the
    # xxhash ``simhash``) and hand off to the shared banding core: an
    # earlier form carried the fingerprint as a 64-char bit STRING and
    # verified with a 64-term substring-compare sum — that expression
    # blows past whole-stage-codegen's method budget and fell back to
    # interpreted eval (~8 s of the sf0.1 query on ~850k candidates). The
    # long fingerprint verifies with a single codegen'd bit_count(xor)
    # and bands with shiftright+mask — identical pairs, ~5x faster, and
    # the DuckDB oracle replays the ORIGINAL per-nibble vote form, which
    # these lane-packed counters reproduce exactly (vote > 0 <=>
    # 2*ones > T, integer-exact both ways).
    result = F.lit(0).cast("long")
    lane_mask = F.lit((1 << _LANE_BITS) - 1).cast("long")
    tc = F.col("__tc")
    for j in range(bits):
        kk, m = divmod(j, _LANES)
        ones = F.shiftright(F.col(f"__pk{kk}"), _LANE_BITS * m).bitwiseAND(
            lane_mask
        )
        bit = (1 << j) if j < 63 else -(1 << 63)
        result = result.bitwiseOR(
            F.when(ones * 2 > tc, F.lit(bit).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    hashed = (
        exploded.groupBy(id_col)
        .agg(*packed, F.count("*").alias("__tc"))
        .select(F.col(id_col), result.alias("__sh"))
        .localCheckpoint(eager=False)
    )
    return hash64_candidate_pairs(
        hashed,
        id_col,
        "__sh",
        max_hamming=max_hamming,
        bands=bands,
        max_bucket_size=max_bucket_size,
    )


def _kept_gram_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_gram_df: int | None,
    _pin: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Stage the (id, gram) inverted index ONCE for the n-gram pair family.

    ``_pin=False`` skips the localCheckpoint pins (test hook ONLY: the pins
    truncate the lineage, so plan guards need the unpinned tree to see the
    cap's join shape).

    Returns ``(kept, counts)``: the surviving-gram index (pinned with
    ``localCheckpoint``) and the per-doc kept-gram counts ``(id,
    n_grams)``. Rationale (optimization r13, guide §2.3/§2.4): the old
    inline form re-ran the tokenize+shingle+explode pipeline once per plan
    branch — FOUR corpus passes in the final plan (both self-join sides
    plus both copies of the gram-df aggregate) — and re-derived per-doc
    counts with a Window over the full index (an extra id-keyed
    Exchange+Sort of every gram row, twice). Pinning the index makes the
    self-join two cache scans, and the counts become a tiny per-doc
    aggregate joined onto the PAIR frame after the intersection aggregate,
    so no gram-sized shuffle ever carries the counts. The pinned index is
    ids+grams only (text never staged), the same keys-only discipline as
    the banding operators.

    Optimization r14 (guide §2.3, §3.2):

    - The index carries ``xxhash64(gram)`` longs, not gram strings —
      every gram-keyed exchange (the df-cap aggregate and both pair
      self-join sides) shuffles 8-byte keys instead of ~20-byte strings,
      and the joins hash/sort longs. Same 64-bit fingerprint posture as
      ``source_overlap`` / ``_dup_shingle_positions`` /
      ``source_boilerplate_passages`` (this module's long-standing
      discipline); intersection counts are exact modulo 64-bit
      collisions — outputs verified identical corpus-wide at sf0.1/0.01/
      0.001, and the 100 TB collision expectation is documented in
      SCALE.md.
    - The stop-gram cap is a **broadcast anti-join against the DROP
      list** (grams with df > ``max_gram_df``) instead of a shuffle join
      against the keep list: by Zipf the drop list is a handful of
      boilerplate grams while the keep list is nearly the whole
      vocabulary, so the old form paid a full-index exchange to keep
      ~everything. Interleaved A/B (two sessions, min-of-6): 2.17-2.40 s
      -> 1.93-1.97 s for the jaccard pair job at sf0.1.
    """
    grams = (
        _with_tokens(df.select(id_col, text_col), text_col)
        .withColumn("__grams", shingles_of_tokens(F.col("__toks"), n))
        .select(
            F.col(id_col).alias("id"),
            F.explode("__grams").alias("__g"),
        )
        .select("id", F.xxhash64("__g").alias("gram"))
    )
    if max_gram_df is not None:
        if _pin:
            grams = grams.localCheckpoint(eager=False)
        drop = grams.groupBy("gram").agg(F.count("*").alias("gdf")).filter(
            F.col("gdf") > max_gram_df
        )
        kept = grams.join(
            F.broadcast(drop.select("gram")), "gram", "left_anti"
        )
        if _pin:
            kept = kept.localCheckpoint(eager=False)
    elif _pin:
        kept = grams.localCheckpoint(eager=False)
    else:
        kept = grams
    counts = kept.groupBy("id").agg(F.count("*").alias("n_grams"))
    return kept, counts


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.5,
    max_gram_df: int | None = 10_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via an inverted-index join (N2).

    Plan (re-based r13): the (id, gram) index is staged ONCE
    (``_kept_gram_index`` — pinned, so the self-join's two sides are cache
    scans, not re-runs of the shingle pipeline), the intersection is one
    (id_a, id_b) pair aggregate, and the per-doc kept-gram counts join onto
    the PAIR frame afterwards — pairs are orders of magnitude smaller than
    the gram index, so no gram-sized shuffle ever carries the counts (the
    old Window-over-id re-derivation exchanged and sorted the full index a
    second time, twice). Shuffles: gram (index join), then (id_a, id_b)
    (pair agg), then the tiny count joins. Both heavy keys are
    high-cardinality, so no skew beyond stop-grams.

    ``max_gram_df`` (default 10k — capped by default so a naive caller
    cannot detonate the index join on boilerplate) drops grams occurring in
    more docs than that: they carry no discriminative signal and inflate
    the join quadratically (one gram in b docs => b^2 index pairs). The
    jaccard is then computed over the surviving-gram vocabulary on BOTH
    sides (numerator and denominators), so the reported similarity stays
    self-consistent; per-doc gram counts are a post-filter aggregate
    joined onto the pair frame (see ``_kept_gram_index``).

    Returns: id_a, id_b, jaccard (exact over the kept vocabulary, 4dp).
    """
    kept, counts = _kept_gram_index(df, id_col, text_col, n, max_gram_df)
    g1 = kept.select(F.col("id").alias("id_a"), "gram")
    g2 = kept.select(F.col("id").alias("id_b"), F.col("gram").alias("gram_b"))
    inter = (
        g1.join(g2, (g1.gram == g2.gram_b) & (g1.id_a < g2.id_b))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    paired = inter.join(
        counts.select(F.col("id").alias("id_a"), F.col("n_grams").alias("n_a")),
        "id_a",
    ).join(
        counts.select(F.col("id").alias("id_b"), F.col("n_grams").alias("n_b")),
        "id_b",
    )
    return (
        paired.withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_containment: float = 0.8,
    max_gram_df: int | None = 10_000,
) -> DataFrame:
    """Directional n-gram CONTAINMENT pairs — the doc-inside-doc /
    quote-inclusion detector that symmetric Jaccard structurally misses: a
    fully-quoted 50-gram passage inside a 5000-gram page scores jaccard
    ~0.01 but containment 1.0. Containment here is
    ``|A ∩ B| / min(|A|, |B|)`` — "how much of the smaller document is
    inside the larger" — the asymmetric-size dedup rule RefinedWeb-style
    pipelines apply between snapshots and between raw/extracted variants.

    Same inverted-index plan as :func:`ngram_jaccard_pairs` (one shingle
    pass staging per-doc gram counts, gram-keyed index join, pair
    aggregate; ``max_gram_df`` stop-gram cap before the self-join), only
    the final expression differs.

    Returns: ``id_a, id_b, n_shared, inner_id, containment`` where
    ``inner_id`` is the contained (smaller-gram, ties -> smaller id) side.
    """
    kept, counts = _kept_gram_index(df, id_col, text_col, n, max_gram_df)
    g1 = kept.select(F.col("id").alias("id_a"), "gram")
    g2 = kept.select(F.col("id").alias("id_b"), F.col("gram").alias("gram_b"))
    inter = (
        g1.join(g2, (g1.gram == g2.gram_b) & (g1.id_a < g2.id_b))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .join(
            counts.select(F.col("id").alias("id_a"), F.col("n_grams").alias("n_a")),
            "id_a",
        )
        .join(
            counts.select(F.col("id").alias("id_b"), F.col("n_grams").alias("n_b")),
            "id_b",
        )
    )
    containment = F.col("n_shared") / F.least("n_a", "n_b")
    inner_id = (
        F.when(F.col("n_a") < F.col("n_b"), F.col("id_a"))
        .when(F.col("n_b") < F.col("n_a"), F.col("id_b"))
        .otherwise(F.least("id_a", "id_b"))
    )
    return (
        inter.withColumn("containment", F.round(containment, 4))
        .filter(F.col("containment") >= min_containment)
        .select("id_a", "id_b", "n_shared", inner_id.alias("inner_id"), "containment")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every k-token gram, slide a ``window`` over
    consecutive gram hashes, keep each window's MINIMUM — a deterministic
    ~1/window-density selection with the guarantee that any two documents
    sharing a verbatim run of >= ``window + k - 1`` tokens share at least
    one selected print. The standard partial-overlap fingerprint when
    storing every shingle is too expensive: a 100 TB corpus keeps ~25% of
    its gram hashes (at window=4) yet stays exhaustive for long matches.

    Plan: one tokenize pass, posexplode of ALL gram occurrences (positions
    matter — NOT the distinct-gram path), an 8-hex-digit md5 prefix as the
    comparable hash (cross-engine replayable), and ONE per-doc window
    (partitioned by id — corpus-scale but perfectly parallel) taking the
    min over the next ``window`` hashes; trailing truncated windows are
    kept (suffix minima are real gram hashes, so matching stays sound and
    short docs still fingerprint). Output is the DISTINCT (id, print) set.

    Returns: ``id_col, print``.
    """
    grams = (
        _with_tokens(df.select(id_col, text_col), text_col)
        .withColumn("__grams", shingles_of_tokens(F.col("__toks"), k, distinct=False))
        .select(
            F.col(id_col),
            F.posexplode("__grams").alias("__pos", "__g"),
        )
        .select(
            F.col(id_col),
            F.col("__pos"),
            F.substring(F.md5("__g"), 1, 8).alias("__h"),
        )
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("__pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        grams.withColumn("print", F.min("__h").over(win))
        .select(id_col, "print")
        .distinct()
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_print_df: int | None = 10_000,
    _pin: bool = True,
) -> DataFrame:
    """Partial-overlap candidate pairs over winnowing fingerprints: docs
    sharing >= ``min_shared`` selected prints, scored by
    ``n_shared / min(per-doc print count)`` — the plagiarism/derived-work
    detector tier between passage dedup (exact 20-token spans) and MinHash
    (whole-doc similarity). Inverted-index join on the 8-hex print with the
    standard stop-print cap (``max_print_df``); per-doc print counts ride
    the index rows exactly like :func:`ngram_jaccard_pairs`.

    Returns: ``id_a, id_b, n_shared, overlap``.

    Plan (optimization r14 — the ``_kept_gram_index`` restructure, guide
    §2.3/§2.4): the print index is staged ONCE behind a lazy
    ``localCheckpoint`` — previously the whole fingerprint pipeline
    (tokenize + posexplode + md5 + per-doc window-min + distinct) was
    re-derived by BOTH self-join sides and a third time by the stop-print
    aggregate — and the per-doc print counts become a tiny per-doc
    aggregate joined onto the PAIR frame after the intersection aggregate,
    replacing the two id-keyed ``Window`` passes (Exchange + Sort over
    every index row) that re-derived ``n_prints`` inline.
    """
    prints = winnow_fingerprints(df, id_col, text_col, k=k, window=window).select(
        F.col(id_col).alias("id"), F.col("print")
    )
    if _pin:  # _pin=False: test hook — plan guards need the unpinned tree
        prints = prints.localCheckpoint(eager=False)
    if max_print_df is not None:
        # broadcast anti-join against the DROP list (r14, the
        # _kept_gram_index discipline, guide §3.2): prints with
        # df > max_print_df are a handful of boilerplate fingerprints by
        # Zipf, while the keep list is nearly the whole index — the old
        # keep-join paid a full print-index exchange to keep ~everything
        drop = prints.groupBy("print").agg(F.count("*").alias("pdf")).filter(
            F.col("pdf") > max_print_df
        )
        prints = prints.join(
            F.broadcast(drop.select("print")), "print", "left_anti"
        )
        if _pin:
            prints = prints.localCheckpoint(eager=False)
    counts = prints.groupBy("id").agg(F.count("*").alias("n_prints"))
    p1 = prints.select(F.col("id").alias("id_a"), "print")
    p2 = prints.select(
        F.col("id").alias("id_b"), F.col("print").alias("print_b")
    )
    inter = (
        p1.join(p2, (p1.print == p2.print_b) & (p1.id_a < p2.id_b))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    return (
        inter.filter(F.col("n_shared") >= min_shared)
        .join(
            counts.select(F.col("id").alias("id_a"), F.col("n_prints").alias("n_a")),
            "id_a",
        )
        .join(
            counts.select(F.col("id").alias("id_b"), F.col("n_prints").alias("n_b")),
            "id_b",
        )
        .withColumn(
            "overlap", F.round(F.col("n_shared") / F.least("n_a", "n_b"), 4)
        )
        .select("id_a", "id_b", "n_shared", "overlap")
    )


def duplicated_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_tokens: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated passages: ``passage_tokens``-token spans
    appearing verbatim in >= ``min_docs`` distinct documents — the
    boilerplate/template detector (the cheap tier of substring-level dedup:
    a hit here means those docs share a >=20-token exact span).

    One shingle projection + one count shuffle keyed by the passage hash.
    Grouping on the 8-byte hash (text resolved per group via ``min``) keeps
    the map-side partial aggregate small: the shuffle carries one passage
    string per (hash, mapper) pair, not one per occurrence — the dominant
    dedupe happens before the wire at 100 TB.

    Returns: ``passage, n_docs, sample_doc_id`` (min id containing it).
    """
    # distinct=False: COUNT(DISTINCT id) is already insensitive to within-doc
    # repeats, and array_distinct over arrays of ~150-char strings is the
    # single most expensive expression in the naive plan.
    grams = (
        _with_tokens(df.select(id_col, text_col), text_col)
        .withColumn(
            "__grams", shingles_of_tokens(F.col("__toks"), passage_tokens, distinct=False)
        )
        .select(F.col(id_col), F.explode("__grams").alias("passage"))
        .select(
            F.col(id_col),
            F.xxhash64("passage").alias("__ph"),
            "passage",
        )
    )
    hits = (
        grams.groupBy("__ph")
        .agg(
            F.countDistinct(id_col).cast("long").alias("n_docs"),
            F.min(id_col).alias("sample_doc_id"),
            F.min("passage").alias("passage"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    return hits.select("passage", "n_docs", "sample_doc_id")


def _dup_shingle_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    passage_tokens: int,
    min_docs: int,
) -> DataFrame:
    """Shingle start positions (1-based token index) whose shingle occurs in
    >= ``min_docs`` distinct documents, with the canonical (min) doc id.

    The duplicate test groups on the 8-byte ``xxhash64`` of the shingle, so
    the shuffle carries (hash, doc_id) — never passage text. Returns
    ``id_col, start_tok, canonical_doc``.
    """
    pos = (
        _with_tokens(df.select(id_col, text_col), text_col)
        .withColumn(
            "__grams",
            shingles_of_tokens(F.col("__toks"), passage_tokens, distinct=False),
        )
        .select(F.col(id_col), F.posexplode("__grams").alias("__p", "__gram"))
        .select(
            F.col(id_col),
            (F.col("__p") + 1).cast("bigint").alias("start_tok"),
            F.xxhash64("__gram").alias("__gh"),
        )
        # pinned (r14, the _kept_gram_index discipline): `pos` feeds TWO
        # subtrees (the min-docs dup aggregate AND the position probe it
        # joins back onto) — unpinned, the corpus tokenize + posexplode +
        # hash pipeline executed once per consumer. The pin carries
        # (id, start_tok, gram-hash) — 24 bytes/row, never gram text.
        .localCheckpoint(eager=False)
    )
    dup = (
        pos.groupBy("__gh")
        .agg(
            F.countDistinct(id_col).alias("__nd"),
            F.min(id_col).alias("canonical_doc"),
        )
        .filter(F.col("__nd") >= min_docs)
        .drop("__nd")
    )
    return pos.join(dup, "__gh").select(id_col, "start_tok", "canonical_doc")


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_tokens: int = 20,
    min_docs: int = 2,
    drop_canonical: bool = False,
) -> DataFrame:
    """Maximal duplicated token spans per document — the substring-dedup
    tier above ``duplicated_passages`` (which reports the shingles; this
    reports the merged REGIONS they cover, the unit a removal pass cuts).

    Overlapping/adjacent duplicated-shingle intervals [start, start+n) merge
    via the classic sorted-interval walk: with fixed length n and positions
    sorted ascending, a new span starts exactly when ``start > lag(start)+n``;
    a running sum of the new-span flags labels the groups. The window runs
    per-document over dup positions only (a small fraction of token grain).

    ``drop_canonical=True`` excludes positions in the shingle's canonical
    (min-id) document — the keep-one-copy policy of removal passes.
    Returns ``id_col, span_start, span_end (exclusive), n_shingles``.
    """
    hits = _dup_shingle_positions(df, id_col, text_col, passage_tokens, min_docs)
    if drop_canonical:
        hits = hits.filter(F.col(id_col) != F.col("canonical_doc"))
    return merge_span_hits(hits, id_col, passage_tokens)


def merge_span_hits(
    hits: DataFrame, id_col: str, span_len: int
) -> DataFrame:
    """Merge fixed-length shingle hit positions into maximal spans (the
    sorted-interval walk of ``duplicated_spans``, reusable for any hit
    source — internal duplicates or eval-set contamination). ``hits`` needs
    (id_col, start_tok); returns ``id_col, span_start, span_end (exclusive),
    n_shingles``. The window runs per-document over hit positions only."""
    w = Window.partitionBy(id_col).orderBy("start_tok")
    marked = hits.select(id_col, "start_tok").withColumn(
        "__new",
        F.when(
            F.col("start_tok")
            > F.lag("start_tok").over(w) + F.lit(span_len),
            1,
        )
        .when(F.lag("start_tok").over(w).isNull(), 1)
        .otherwise(0),
    )
    grp = F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        marked.withColumn("__grp", grp)
        .groupBy(id_col, "__grp")
        .agg(
            F.min("start_tok").alias("span_start"),
            (F.max("start_tok") + F.lit(span_len)).alias("span_end"),
            F.count("*").cast("bigint").alias("n_shingles"),
        )
        .drop("__grp")
    )


def substring_run_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_run_tokens: int | None = None,
    max_gram_df: int = 1_000,
    max_occ_per_doc: int = 8,
    min_anchors: int = 1,
) -> DataFrame:
    """Cross-document EXACT duplicated substring runs with span extents —
    the distributed analog of suffix-array dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): where
    ``duplicated_passages`` reports which shingles repeat and
    ``ngram_containment_pairs`` reports overlap ratios, this recovers the
    maximal aligned (doc_a, doc_b, span) runs, the unit a
    ``remove_contaminated_spans``-style surgical pass cuts. No reference
    analog (SURVEY §2.6 N1/N2 scale extension).

    Algorithm (anchor + diagonal run-merge, all joins/windows — no
    suffix array materialized):

    1. every k-token shingle occurrence becomes an anchor
       ``(doc, start_tok, xxhash64(gram))`` — positions 1-based;
    2. per-(doc, gram) occurrences cap at ``max_occ_per_doc`` (the
       pathological ``a a a ... a`` doc would otherwise pair every
       occurrence with every occurrence) and grams in more than
       ``max_gram_df`` docs drop entirely (stop-gram boilerplate — the
       same df-cap discipline as the containment/winnowing tiers; both
       caps are deterministic, so oracles mirror them);
    3. anchors equi-join on the 8-byte hash (``id_a < id_b``) — never the
       gram text — so the shuffle carries (hash, id, pos) rows only; each
       matched pair is then RE-VERIFIED against a second, seed-prefixed
       64-bit gram hash (a different but CORRELATED function — not an
       independent hash, so no clean 2^-128 joint bound), so a single
       xxhash64 collision (expected at the ~5e9-gram birthday bound of a
       100 TB corpus) no longer fabricates an "exact" duplicate in
       practice, which keeps the downstream ``cut_spans_from_text``
       surgery non-lossy without ever shuffling gram text;
    4. matches on one DIAGONAL (``pb - pa`` constant) merge into runs via
       the sorted-interval walk per ``(id_a, id_b, diag)``: a new run
       starts exactly when ``pa > lag(pa) + k``. Two aligned k-gram
       matches at diagonal distance <= k overlap or abut, and equal
       overlapping/abutting segments concatenate, so every merged run is
       an EXACT token-for-token duplicated span (modulo 64-bit hash
       collisions, the standing MinHash-family caveat). Anchors a
       cap dropped can split a run — deterministically, both engines.

    100 TB shape: one shuffle keyed on the gram hash with per-hash fanout
    bounded by ``max_gram_df x max_occ_per_doc`` (worst-case pairs per
    gram are capped, never corpus-quadratic); the run-merge window
    partitions on (id_a, id_b, diag) — pair-local, tiny partitions.

    Returns ``id_a, id_b, a_start, a_end, b_start, b_end (ends
    exclusive), n_tokens, n_anchors`` for runs of >= ``min_run_tokens``
    (default ``k``) tokens and >= ``min_anchors`` anchors (default 1;
    raise it to demand multi-anchor corroboration on top of the
    double-hash verification).
    """
    min_run = int(min_run_tokens) if min_run_tokens is not None else int(k)
    pos = (
        _with_tokens(df.select(id_col, text_col), text_col)
        .withColumn(
            "__grams", shingles_of_tokens(F.col("__toks"), k, distinct=False)
        )
        .select(F.col(id_col), F.posexplode("__grams").alias("__p", "__gram"))
        .select(
            F.col(id_col),
            (F.col("__p") + 1).cast("bigint").alias("st"),
            F.xxhash64("__gram").alias("__gh"),
            # seeded verification hash: the constant literal prepends a
            # block to the same fixed-seed xxhash64, so xxhash64((42, gram))
            # is a DIFFERENT but CORRELATED function of gram — not an
            # independent hash, so the naive 2^-128 joint-collision bound
            # does not apply; empirically it still rejects single-hash
            # collisions (a large practical improvement) at 8 extra bytes
            # per anchor row
            F.xxhash64(F.lit(42), "__gram").alias("__gh2"),
        )
    )
    wocc = Window.partitionBy(id_col, "__gh").orderBy("st")
    # pinned (r14, the _kept_gram_index discipline): the capped anchor
    # index feeds the df-cap aggregate AND both self-join sides — without
    # the pins the tokenize+shingle+posexplode+cap-window pipeline
    # re-derived once per branch (three corpus passes in the final plan)
    pos = (
        pos.withColumn("__rn", F.row_number().over(wocc))
        .filter(F.col("__rn") <= max_occ_per_doc)
        .drop("__rn")
        .localCheckpoint(eager=False)
    )
    keep = (
        pos.groupBy("__gh")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter((F.col("__nd") >= 2) & (F.col("__nd") <= max_gram_df))
        .select("__gh")
    )
    pk = pos.join(keep, "__gh").localCheckpoint(eager=False)
    a = pk.select(
        "__gh",
        F.col("__gh2").alias("__gh2a"),
        F.col(id_col).alias("id_a"),
        F.col("st").alias("pa"),
    )
    b = pk.select(
        "__gh",
        F.col("__gh2").alias("__gh2b"),
        F.col(id_col).alias("id_b"),
        F.col("st").alias("pb"),
    )
    anch = (
        a.join(b, "__gh")
        .filter(F.col("id_a") < F.col("id_b"))
        # double-hash verification: drop primary-hash collisions
        .filter(F.col("__gh2a") == F.col("__gh2b"))
        .select("id_a", "id_b", "pa", "pb", (F.col("pb") - F.col("pa")).alias("__d"))
    )
    w = Window.partitionBy("id_a", "id_b", "__d").orderBy("pa")
    marked = anch.withColumn(
        "__new",
        F.when(
            F.lag("pa").over(w).isNull()
            | (F.col("pa") > F.lag("pa").over(w) + F.lit(int(k))),
            1,
        ).otherwise(0),
    )
    grp = F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        marked.withColumn("__g", grp)
        .groupBy("id_a", "id_b", "__d", "__g")
        .agg(
            F.min("pa").alias("a_start"),
            (F.max("pa") + F.lit(int(k))).alias("a_end"),
            F.min("pb").alias("b_start"),
            (F.max("pb") + F.lit(int(k))).alias("b_end"),
            F.count("*").cast("bigint").alias("n_anchors"),
        )
        .withColumn("n_tokens", (F.col("a_end") - F.col("a_start")).cast("bigint"))
        .filter(
            (F.col("n_tokens") >= min_run)
            & (F.col("n_anchors") >= int(min_anchors))
        )
        .select(
            "id_a", "id_b", "a_start", "a_end", "b_start", "b_end",
            "n_tokens", "n_anchors",
        )
    )


def substring_runs_to_spans(runs: DataFrame) -> DataFrame:
    """Per-document cut list from :func:`substring_run_pairs` output under
    the keep-one-copy policy: the copy in the lower doc id survives
    (``id_a < id_b`` by construction), every aligned copy in the higher id
    becomes a cut span; overlapping/abutting spans per doc merge via the
    running-max interval walk (variable-length intervals, so
    ``merge_span_hits``'s fixed-length rule doesn't apply). Returns
    ``doc_id, span_start, span_end (exclusive)`` — the shape
    ``cut_spans_from_text`` consumes."""
    cuts = runs.select(
        F.col("id_b").alias("doc_id"),
        F.col("b_start").alias("s"),
        F.col("b_end").alias("e"),
    )
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = cuts.withColumn(
        "__new",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    grp = F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        marked.withColumn("__g", grp)
        .groupBy("doc_id", "__g")
        .agg(F.min("s").alias("span_start"), F.max("e").alias("span_end"))
        .drop("__g")
    )


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    shingle_size: int = 3,
    max_sources_per_gram: int | None = None,
) -> DataFrame:
    """Exact pairwise shingle-Jaccard between SOURCES — the provenance
    audit of multi-dataset curation ("is this crawl snapshot mostly a
    re-crawl of that one?"), at source grain rather than document grain.

    Inverted-index discipline (the ``ngram_jaccard_pairs`` shape one level
    up): distinct (source, gram-hash) rows — corpus tokenized once, text
    never shuffles — self-join on the 8-byte hash, count-aggregate to the
    #sources^2-bounded pair frame, per-source gram totals broadcast back.
    ``max_sources_per_gram`` drops grams present in more than that many
    sources BEFORE the self-join (a gram in s sources emits s^2/2 pair
    rows; universal grams are all cost and no signal — same stop-gram
    posture as ``max_gram_df``). Returns
    ``source_a, source_b, n_common, jaccard`` for every co-occurring pair.
    """
    # pinned (r14, the _kept_gram_index discipline): the distinct
    # (source, gram-hash) index feeds THREE subtrees (per-source totals
    # and both self-join sides) — unpinned, the corpus
    # tokenize+shingle+explode+distinct executed once per subtree
    grams = (
        _with_tokens(df.select(source_col, text_col), text_col)
        .withColumn(
            "__grams", shingles_of_tokens(F.col("__toks"), shingle_size)
        )
        .select(F.col(source_col), F.explode("__grams").alias("__g"))
        .select(F.col(source_col), F.xxhash64("__g").alias("__gh"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if max_sources_per_gram is not None:
        w = Window.partitionBy("__gh")
        grams = (
            grams.withColumn("__ns", F.count("*").over(w))
            .filter(F.col("__ns") <= max_sources_per_gram)
            .drop("__ns")
            .localCheckpoint(eager=False)
        )
    per_source = grams.groupBy(source_col).agg(
        F.count("*").cast("long").alias("__n")
    )
    a = grams.select(F.col(source_col).alias("source_a"), "__gh")
    b = grams.select(F.col(source_col).alias("source_b"), "__gh")
    pairs = (
        a.join(b, "__gh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    na = per_source.select(
        F.col(source_col).alias("source_a"), F.col("__n").alias("__na")
    )
    nb = per_source.select(
        F.col(source_col).alias("source_b"), F.col("__n").alias("__nb")
    )
    return (
        pairs.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("__na") + F.col("__nb") - F.col("n_common")).cast(
                    "double"
                ),
                4,
            ).alias("jaccard"),
        )
    )


def source_boilerplate_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    passage_tokens: int = 10,
    min_frac: float = 0.5,
    min_docs: int = 3,
) -> DataFrame:
    """Per-source boilerplate passages: ``passage_tokens``-grams appearing
    in >= ``min_frac`` of a source's documents (and >= ``min_docs``
    absolute) — the domain-level template detector (nav bars, footers,
    cookie banners) of RefinedWeb/C4-style curation, which the
    cross-corpus ``duplicated_passages`` misses when a template is unique
    to one site.

    One (source, gram-hash) count shuffle with map-side combine (the
    shuffle carries hashes, not text) joined to the per-source doc counts
    (a source-cardinality frame, broadcast). Returns
    ``source, passage, n_docs, doc_frac``.
    """
    grams = (
        _with_tokens(df.select(id_col, source_col, text_col), text_col)
        .withColumn(
            "__grams",
            shingles_of_tokens(F.col("__toks"), passage_tokens, distinct=True),
        )
        .select(F.col(id_col), F.col(source_col), F.explode("__grams").alias("__g"))
        .select(
            F.col(id_col),
            F.col(source_col),
            F.xxhash64("__g").alias("__gh"),
            F.col("__g"),
        )
    )
    # distinct=True above: per-doc multiplicity must not inflate doc counts
    per_source = df.groupBy(source_col).agg(
        F.countDistinct(id_col).alias("__nd")
    )
    counts = grams.groupBy(source_col, "__gh").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("__g").alias("passage"),
    )
    return (
        counts.join(F.broadcast(per_source), source_col)
        .withColumn(
            "doc_frac", F.col("n_docs") / F.col("__nd").cast("double")
        )
        .filter(
            (F.col("doc_frac") >= min_frac) & (F.col("n_docs") >= min_docs)
        )
        .select(
            source_col,
            "passage",
            "n_docs",
            F.round("doc_frac", 4).alias("doc_frac"),
        )
    )


def remove_source_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    passage_tokens: int = 10,
    min_frac: float = 0.5,
    min_docs: int = 3,
) -> DataFrame:
    """Cut every per-source boilerplate span from every document of that
    source and rebuild the text — the removal pass over the same detection
    rule as :func:`source_boilerplate_passages`, reusing
    ``merge_span_hits`` + ``cut_spans_from_text`` so the corpus never
    shuffles on text. Detection and hit extraction share ONE staged
    tokenize+shingle pass (the dominant cost — see the shingle-staging
    note at the top of this module): the (source, gram-hash) doc counts
    aggregate the position frame itself, hash-only, and join back on
    (source, hash) keys. Returns ``id_col, clean_text, n_tokens_kept,
    n_tokens_removed``.
    """
    pos = (
        _with_tokens(df.select(id_col, source_col, text_col), text_col)
        .withColumn(
            "__grams",
            shingles_of_tokens(F.col("__toks"), passage_tokens, distinct=False),
        )
        .select(
            F.col(id_col),
            F.col(source_col),
            F.posexplode("__grams").alias("__p", "__gram"),
        )
        .select(
            F.col(id_col),
            F.col(source_col),
            (F.col("__p") + 1).cast("bigint").alias("start_tok"),
            F.xxhash64("__gram").alias("__gh"),
        )
        .localCheckpoint(eager=False)
    )
    per_source = df.groupBy(source_col).agg(
        F.countDistinct(id_col).alias("__nd")
    )
    boiler = (
        pos.select(id_col, source_col, "__gh")
        .distinct()
        .groupBy(source_col, "__gh")
        .agg(F.count("*").cast("long").alias("__ndocs"))
        .join(F.broadcast(per_source), source_col)
        .filter(
            (F.col("__ndocs") / F.col("__nd").cast("double") >= min_frac)
            & (F.col("__ndocs") >= min_docs)
        )
        .select(source_col, "__gh")
    )
    hits = pos.join(boiler, [source_col, "__gh"]).select(id_col, "start_tok")
    spans = merge_span_hits(hits, id_col, passage_tokens)
    return cut_spans_from_text(df, spans, id_col=id_col, text_col=text_col)


def self_repetition_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_tokens: int = 10,
) -> DataFrame:
    """Maximal WITHIN-document repeated token spans — the generated-text /
    boilerplate artifact detector (degenerate loops, copy-pasted
    paragraphs inside one doc), keep-first-occurrence semantics.

    A shingle start position is a hit when the same ``passage_tokens``-gram
    already occurred earlier in the SAME document at a non-overlapping
    position (``start >= first + n``) — so the first occurrence always
    survives intact, and self-overlapping periodic text ("a b a b a b …")
    cuts from the end of the first period onward. Hit detection is one
    window over (doc, gram-hash) — the shuffle carries (id, 8-byte hash,
    position), never text — and the span merge reuses ``merge_span_hits``
    (per-doc window over hit positions only). Returns
    ``id_col, span_start, span_end (exclusive), n_shingles``.
    """
    pos = (
        _with_tokens(df.select(id_col, text_col), text_col)
        .withColumn(
            "__grams",
            shingles_of_tokens(F.col("__toks"), passage_tokens, distinct=False),
        )
        .select(F.col(id_col), F.posexplode("__grams").alias("__p", "__gram"))
        .select(
            F.col(id_col),
            (F.col("__p") + 1).cast("bigint").alias("start_tok"),
            F.xxhash64("__gram").alias("__gh"),
        )
    )
    w = Window.partitionBy(id_col, "__gh")
    hits = (
        pos.withColumn("__first", F.min("start_tok").over(w))
        .filter(F.col("start_tok") >= F.col("__first") + F.lit(passage_tokens))
        .select(id_col, "start_tok")
    )
    return merge_span_hits(hits, id_col, passage_tokens)


def remove_self_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_tokens: int = 10,
) -> DataFrame:
    """Cut every within-document repeated span (keep the first occurrence)
    and rebuild the text — ``remove_duplicated_passages``' intra-doc twin,
    same zero-corpus-shuffle cut machinery (``cut_spans_from_text``).
    Returns ``id_col, clean_text, n_tokens_kept, n_tokens_removed``."""
    spans = self_repetition_spans(
        df, id_col=id_col, text_col=text_col, passage_tokens=passage_tokens
    )
    return cut_spans_from_text(df, spans, id_col=id_col, text_col=text_col)


def remove_duplicated_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_tokens: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level dedup rewrite (the Lee et al. 2021 ExactSubstr shape,
    keep-one-copy): cut every maximal duplicated span from all but the
    shingle's canonical (min-id) document, and rebuild the text from the
    surviving tokens.

    The cut itself never shuffles the corpus: merged spans aggregate to one
    array per affected doc (tiny — dup regions only), join back on the doc
    key, and an index-aware ``filter`` lambda drops covered tokens inside the
    row. Output text is token-normalized (lower-cased, single-spaced) for
    affected AND unaffected docs, so the rewrite is uniform and the operation
    is idempotent. Returns ``id_col, clean_text, n_tokens_kept,
    n_tokens_removed``.
    """
    spans = duplicated_spans(
        df,
        id_col=id_col,
        text_col=text_col,
        passage_tokens=passage_tokens,
        min_docs=min_docs,
        drop_canonical=True,
    )
    return cut_spans_from_text(df, spans, id_col=id_col, text_col=text_col)


def cut_spans_from_text(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cut token spans out of documents and rebuild the text — the removal
    half of ``remove_duplicated_passages``, reusable for any span source
    (internal duplicates, eval-set contamination). ``spans`` needs
    (id_col, span_start, span_end with 1-based token indices, end exclusive).

    The cut never shuffles the corpus: spans aggregate to one array per
    affected doc (tiny), join back on the doc key, and an index-aware
    ``filter`` lambda drops covered tokens inside the row. Output text is
    token-normalized for affected AND unaffected docs so the rewrite is
    uniform and idempotent. Returns ``id_col, clean_text, n_tokens_kept,
    n_tokens_removed``.
    """
    span_lists = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    # NULL text tokenizes to NULL; coalesce to the empty array so the doc
    # comes back as ('', 0 kept, 0 removed) instead of NULL counts
    toks = _with_tokens(df.select(id_col, text_col), text_col).withColumn(
        "__toks", F.coalesce(F.col("__toks"), F.array().cast("array<string>"))
    )
    # spans exist only for affected docs; everyone else passes through with
    # an empty span list
    joined = toks.join(span_lists, id_col, "left").withColumn(
        "__spans",
        F.coalesce(F.col("__spans"), F.array().cast(
            "array<struct<span_start:bigint,span_end:bigint>>"
        )),
    )
    kept = F.filter(
        F.col("__toks"),
        lambda t, i: ~F.exists(
            F.col("__spans"),
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 < s["span_end"]),
        ),
    )
    # stage the filtered array once: HOF expressions get no CSE, so three
    # direct references would run the filter three times per row
    return joined.withColumn("__kept", kept).select(
        F.col(id_col),
        F.concat_ws(" ", "__kept").alias("clean_text"),
        F.size("__kept").cast("bigint").alias("n_tokens_kept"),
        (F.size("__toks") - F.size("__kept")).cast("bigint").alias("n_tokens_removed"),
    )


def _cc_star(
    edges: DataFrame, max_iter: int, stats: dict | None = None
) -> DataFrame:
    """Large-star / small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond" — public algorithm): converges in
    O(log^2 n) rounds vs O(diameter) for min-label propagation, so whale
    components (long chains stitched by transitive near-dups) finish in a
    handful of rounds instead of one round per hop.

    Round = large-star (every node links its strictly-larger neighbors to
    its neighborhood min) + small-star (every node folds its smaller
    neighbors onto their min). Edges stay oriented big->small; convergence
    is a stable edge set, detected by a constant-size (count, hash-sum)
    signature over the checkpointed edges — no old-vs-new subtract join.
    At the fixpoint every non-root points directly at its component min.
    """
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sig(frame: DataFrame) -> tuple:
        # order-insensitive digest over the edge set; the hash sum runs in
        # unbounded decimal because a BIGINT sum of full-range xxhash64
        # values overflows long, which ANSI mode (Spark 4 default) turns
        # into ARITHMETIC_OVERFLOW instead of wrapping
        row = frame.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    sig = _sig(e)
    for rnd in range(max_iter):
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star: m(u) = min(N(u) ∪ {u}); emit (v, m) for v > u
        lmin = und.groupBy("u").agg(F.min("v").alias("nmin"))
        lm = lmin.select("u", F.least("u", "nmin").alias("m"))
        large = (
            und.join(lm, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over big->small edges: fold N(u) ∪ {u} onto min(N(u))
        smin = large.groupBy("u").agg(F.min("v").alias("m"))
        with_min = large.join(smin, "u")
        small = (
            with_min.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(with_min.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        e = small
        new_sig = _sig(e)
        if new_sig == sig:
            if stats is not None:
                stats["rounds"] = rnd + 1
            comp = e.select(
                F.col("u").alias("id"), F.col("v").alias("component")
            )
            return (
                nodes.join(comp, "id", "left")
                .select(
                    "id",
                    F.coalesce("component", "id").alias("component"),
                )
            )
        sig = new_sig
    raise RuntimeError(f"star CC did not converge in {max_iter} rounds")


# auto tier: propagate rounds to try before declaring the graph a whale
_AUTO_PROBE_ROUNDS = 6


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    variant: str = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """Resolve candidate pairs into clusters: ``id -> component`` where
    ``component`` is the minimum id reachable through the pair graph.

    This is the step a real dedup pipeline runs AFTER pair generation
    (MinHash/Jaccard/embedding pairs are edges; a duplicate *group* is a
    connected component, and the kept representative is its min id).

    Algorithm: min-label propagation — each round every node takes the min
    label among itself and its neighbors; converges in O(graph diameter)
    rounds. Near-dup graphs are piles of small cliques (diameter 2-3), so
    3-4 rounds typically suffice; ``max_iter`` bounds pathological chains.
    Each round is ONE shuffle job (neighbor-min join+agg, checkpointed)
    plus a scan-only convergence count over the checkpointed partitions —
    the changed flag is computed inside the round's join rather than by a
    separate old-vs-new shuffle join (which doubled per-round job count).
    ``localCheckpoint`` truncates lineage each round; critically the EDGE
    frame is checkpointed too — edges arrive as the output of a whole
    candidate-generation pipeline (LSH banding etc.), and without pinning
    them every round would re-run that upstream job (measured: the rounds,
    not the pair generation, were 80% of ext_dedup_clusters). For graphs
    with whale components at 100 TB scale the two-phase large-star/
    small-star variant halves round count; the per-round dataflow is the
    same shape.

    ``variant="star"`` switches to the large-star/small-star alternation
    (``_cc_star``) — same ``id -> component-min`` contract, O(log^2 n)
    rounds instead of O(diameter): the right tier when the dup graph has
    whale components (boilerplate cliques chained by transitive matches).

    ``variant="auto"`` (the DEFAULT — every cluster-resolution caller is
    whale-safe unless it opts into a single tier) composes the tiers by
    MEASUREMENT, not guesswork: propagation rounds are ~40% cheaper than
    star rounds (one shuffle job vs three — A/B at sf0.1 warm: 3.3 s
    propagate vs 5.9 s star end-to-end on the clique-shaped trigram dup
    graph), so auto runs up to ``auto_probe_rounds`` propagate rounds —
    enough for the diameter-2-3 cliques that dominate real near-dup
    graphs — and only if the graph hasn't converged (a whale) restarts on
    the star tier, whose round count is logarithmic. Worst case pays
    ``auto_probe_rounds`` cheap extra rounds; typical case never pays the
    star premium.

    ``stats`` (optional dict) receives ``{"rounds": N}`` on convergence
    (probe + star rounds combined under auto, plus ``{"tier": ...}``) —
    instrumentation for comparing tier round counts on whale graphs.

    Returns: ``id, component``. Raises if not converged within max_iter.
    """
    if variant not in ("star", "auto", "propagate"):
        raise ValueError(f"unknown connected_components variant: {variant!r}")
    # Pin the candidate-pair pipeline ONCE, before any direction union or
    # canonicalization: edges arrive as the output of a whole candidate-
    # generation job (inverted-index Jaccard, LSH banding, ...), and every
    # derived frame below (direction union, node set, star
    # canonicalization) would otherwise re-run that upstream pipeline once
    # PER BRANCH — measured as two full pair-generation executions inside
    # the old eager `undirected` union (guide §2.4: duplicated subtrees are
    # removed shuffles waiting to happen). One pinned pass, every
    # derivation reads the cache.
    e0 = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).localCheckpoint(eager=True)
    if variant == "star":
        return _cc_star(e0, max_iter, stats)
    if variant == "auto":
        probe_stats: dict = {}
        try:
            out = _cc_propagate(e0, _AUTO_PROBE_ROUNDS, probe_stats)
            if stats is not None:
                stats.update(probe_stats)
                stats["tier"] = "propagate"
            return out
        except RuntimeError:
            out = _cc_star(e0, max_iter, probe_stats)
            if stats is not None:
                stats["rounds"] = _AUTO_PROBE_ROUNDS + probe_stats.get("rounds", 0)
                stats["tier"] = "star"
            return out
    return _cc_propagate(e0, max_iter, stats)


def _cc_propagate(
    edges: DataFrame, max_iter: int, stats: dict | None = None
) -> DataFrame:
    """Min-label propagation loop over a PINNED (localCheckpoint'ed) edge
    frame — see :func:`connected_components` for the contract. The
    direction union is built lazily over the pinned frame (two cache scans
    per round, no second materialization pass, no re-run of the upstream
    candidate pipeline)."""
    undirected = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = (
        undirected.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for rnd in range(max_iter):
        neighbor_min = (
            undirected.join(labels, undirected.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nmin"))
        )
        flagged = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least("label", "nmin").alias("label"),
                (F.col("nmin") < F.col("label")).alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = flagged.filter(F.col("chg")).count()
        labels = flagged.select("id", "label")
        if changed == 0:
            if stats is not None:
                stats["rounds"] = rnd + 1
            return labels.select("id", F.col("label").alias("component"))
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    variant: str = "auto",
) -> DataFrame:
    """Attach near-dup cluster ids to every row: ``cluster_id`` = component
    min-id (rows in no pair are their own cluster), ``is_representative`` =
    the row dedup would keep. Keys-only joins; payloads never shuffle.
    ``variant`` selects the CC tier (``propagate`` | ``star`` |
    ``auto``)."""
    comp = connected_components(pairs, variant=variant)
    return (
        df.join(comp, df[id_col] == comp.id, "left")
        .drop("id")
        .withColumn("cluster_id", F.coalesce(F.col("component"), F.col(id_col)))
        .drop("component")
        .withColumn("is_representative", F.col("cluster_id") == F.col(id_col))
    )


def keep_best_of_cluster(
    scored: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware near-dup resolution: label every row with its cluster
    and keep the HIGHEST-``score_col`` member (ties broken by smallest id)
    instead of the arbitrary min-id representative — "dedup keeps the best
    copy", the curation rule most pipelines actually want (a near-dup
    cluster usually contains one clean copy and N mangled ones).

    ``scored`` needs only ``(id_col, score_col)`` populated — pass a
    keys+score projection, not the payload frame: the cluster labeling join
    and the per-cluster argmax window shuffle ONLY (id, cluster, score)
    rows, so at 100 TB the corpus text never moves; callers re-join payloads
    on ``id_col`` afterwards. Returns ``id_col, cluster_id, score_col,
    is_representative``.
    """
    from dbt_meshify_spark.operators.skew import topk_per_key

    keys = scored.select(F.col(id_col), F.col(score_col))
    labeled = (
        dedup_clusters(keys, pairs, id_col=id_col)
        .drop("is_representative")
        # two consumers below (argmax + flag join) — pin so the iterative
        # cluster labeling runs once
        .localCheckpoint(eager=False)
    )
    # skew-safe argmax (r11): a boilerplate mega-cluster (30% of a crawl
    # near-duplicating one page) would funnel through a single window task
    # in the naive per-cluster rank — the combiner two-pass prunes each
    # input partition to its local best first, so the hot cluster ships
    # one candidate per partition (the exact_dedup/bounded-contribution
    # rebase discipline)
    reps = topk_per_key(
        labeled,
        ["cluster_id"],
        [F.col(score_col).desc(), F.col(id_col).asc()],
        1,
        rank_col="__rk",
    ).select("cluster_id", F.col(id_col).alias("__rep_id"))
    # NULL-SAFE: a NULL id yields a NULL cluster_id (coalesce of two
    # nulls); the old window form kept and flagged it, so a null-rejecting
    # equi-join would be a silent row drop (the bounded-contribution
    # discipline)
    reps = reps.withColumnRenamed("cluster_id", "__rep_cluster")
    return (
        labeled.join(
            reps, labeled["cluster_id"].eqNullSafe(reps["__rep_cluster"])
        )
        .withColumn(
            "is_representative", F.col(id_col).eqNullSafe(F.col("__rep_id"))
        )
        .drop("__rep_id", "__rep_cluster")
    )


def dedup_against_index(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-tier incremental dedup: rows of ``batch`` whose normalized
    content fingerprint is NOT already in the standing ``index`` corpus,
    with within-batch exact dups also folded (keep-first by ``id_col``) —
    the every-crawl-cycle shape of continuous curation, where per-batch cost
    must be O(batch), never O(corpus).

    The index side is reduced to DISTINCT 32-byte fingerprints before the
    LEFT ANTI join, so the corpus payload never moves and the join state is
    the fingerprint set alone. With Spark's runtime bloom-filter join
    (`spark.sql.optimizer.runtime.bloomFilter.enabled`, on by default) the
    small batch side seeds a bloom that prunes the index-side exchange at
    the scan, so at 100 TB the anti-join shuffles ~|batch| fingerprints plus
    bloom false positives, not the full index. Exactness is unconditional:
    the bloom is an optimizer prefilter, the anti-join verifies.
    """
    from dbt_meshify_spark.operators.text import doc_fingerprint

    fp_batch = doc_fingerprint(batch, text_col=text_col, out_col="__fp")
    fp_index = (
        doc_fingerprint(index, text_col=text_col, out_col="__fp")
        .select("__fp")
        .distinct()
    )
    novel = fp_batch.join(fp_index, on="__fp", how="left_anti")
    # NULL-text rows all share a NULL fingerprint but are NOT duplicates of
    # each other — fold on a per-row unique key for them so the keep-first
    # never collapses them (the anti-join already keeps them: NULL matches
    # nothing). The fold is a min_by aggregate, not a window (the
    # exact_dedup rebase): a batch where one boilerplate page dominates
    # partial-aggregates map-side instead of funneling one task.
    fold_key = F.coalesce(F.col("__fp"), F.col(id_col).cast("string"))
    cols = [c for c in novel.columns if c != "__fp"]
    picked = novel.groupBy(fold_key.alias("__fold")).agg(
        # struct-wrapped ordering: a bare NULL id would make min_by IGNORE
        # the row entirely; a struct of columns is never itself null and
        # orders nulls first (the exact_dedup discipline)
        F.min_by(
            F.struct(*[F.col(c) for c in cols]), F.struct(F.col(id_col))
        ).alias("__row")
    )
    return picked.select(*[picked["__row"][c].alias(c) for c in cols])


def lsh_plan(
    target_jaccard: float, num_hashes: int = 128
) -> dict[str, float | int]:
    """Pick (bands, rows_per_band) for MinHash LSH so the S-curve's
    threshold ``(1/b)^(1/r)`` lands closest to ``target_jaccard`` — the
    standard MMDS banding rule, exposed so callers stop hand-tuning the
    two knobs that decide both recall and candidate volume.

    Driver-side arithmetic over the divisors of ``num_hashes`` (bounded);
    returns bands, rows_per_band, the achieved threshold, and the S-curve
    capture probabilities at the target and at 0.9x/1.1x of it so callers
    can see how sharp the chosen curve is.
    """
    if not 0.0 < target_jaccard < 1.0:
        raise ValueError("target_jaccard must be in (0, 1)")
    best = None
    for bands in range(1, num_hashes + 1):
        if num_hashes % bands:
            continue
        rows = num_hashes // bands
        thr = (1.0 / bands) ** (1.0 / rows)
        if best is None or abs(thr - target_jaccard) < abs(best[0] - target_jaccard):
            best = (thr, bands, rows)
    thr, bands, rows = best

    def capture(s: float) -> float:
        return 1.0 - (1.0 - s**rows) ** bands

    return {
        "bands": bands,
        "rows_per_band": rows,
        "threshold": round(thr, 4),
        "p_at_target": round(capture(target_jaccard), 4),
        "p_below": round(capture(max(0.0, target_jaccard * 0.9)), 4),
        "p_above": round(capture(min(1.0, target_jaccard * 1.1)), 4),
    }
