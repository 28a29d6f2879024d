"""Extension operator queries (SURVEY.md §2.6) — the LLM-data-pipeline
surface: dedup families, similarity search, text analysis, multimodal
plumbing.

Oracle-checked where the semantics are deterministic ANSI SQL; approximate /
hash-family operators (MinHash, SimHash, LSH ANN) get rows-only entries here
and containment/recall assertions in tests/test_operators.py.

Cross-engine parity rules used throughout (beyond SURVEY §2.7's):
- occurrence counting via replace-and-measure, never split-and-count (Spark
  drops trailing empty splits);
- counts cast to BIGINT (DuckDB ``len``/``count`` are BIGINT, Spark ``size``
  is INT);
- float expressions written with identical operation order on both sides so
  IEEE evaluation is bit-identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_meshify_spark.operators.dedup import (
    dedup_clusters,
    duplicated_passages,
    exact_dedup,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_candidate_pairs,
)
from dbt_meshify_spark.operators.multimodal import extract_features, synthesize_media
from dbt_meshify_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_exact,
    embedding_neardup_pairs,
    lsh_bucketed_topk,
    quantize_embeddings,
)
from dbt_meshify_spark.operators.decontam import ngram_overlap
from dbt_meshify_spark.operators.text import (
    LANG_MARKERS,
    bm25_scores,
    build_vocab,
    normalize_text,
    chunk_documents,
    doc_fingerprint,
    encode_docs,
    histogram,
    language_id,
    quality_score,
    repetition_stats,
    tfidf_top_terms,
    token_stats,
)
from dbt_meshify_spark.sources import load_table


def _asc(c: str):
    return F.col(c).asc_nulls_first()


_SCRATCH_ROOT: str | None = None


def _stream_scratch(prefix: str) -> str:
    """Scratch dir for a streaming query's state/checkpoint/output.

    Each invocation creates a fresh dir (Structured Streaming checkpoints
    are single-use here — drained availableNow runs must not resume a prior
    run's offsets). All of a process's scratch dirs live under ONE
    per-session root (``dms_scratch_<pid>_…``) that an atexit hook deletes
    wholesale, so normal runs leave nothing behind. Stale roots from
    crashed/killed sessions are pruned ONCE per process, at root creation —
    never per-query — and only when the owning PID is dead (with a 6-hour
    mtime fallback for foreign-PID leftovers): a live session of ANY length
    can therefore never have a checkpoint or staged stream input rmtree'd
    out from under it by a later query invocation, which an age-only
    per-query prune could do to a session exceeding the cutoff.
    """
    import atexit
    import shutil
    import tempfile
    import time

    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None or not os.path.isdir(_SCRATCH_ROOT):
        tmp = _scratch_base()
        stale_cutoff = time.time() - 6 * 3600
        # hard ceiling: a dead session's root whose PID was recycled by an
        # unrelated long-lived process must still be reclaimed eventually
        ceiling_cutoff = time.time() - 7 * 24 * 3600
        # sweep the process tempdir too when the base resolves elsewhere
        # (ADVICE r13): pre-r13 runs rooted their scratch in /tmp; once the
        # base moved to /dev/shm those leftovers were never reclaimed
        try:
            entries = []
            for d in {tmp, tempfile.gettempdir()}:
                try:
                    entries.extend((d, n) for n in os.listdir(d))
                except OSError:
                    pass
            for d, name in entries:
                path = os.path.join(d, name)
                if not os.path.isdir(path):
                    continue
                try:
                    if not name.startswith("dms_scratch_"):
                        continue
                    parts = name.split("_")
                    try:
                        owner = int(parts[2]) if len(parts) > 2 else -1
                    except ValueError:
                        owner = -1
                    alive = owner > 0 and _pid_alive(owner)
                    stale = os.path.getmtime(path) < stale_cutoff
                    ancient = os.path.getmtime(path) < ceiling_cutoff
                    if ancient or (not alive and (owner > 0 or stale)):
                        shutil.rmtree(path, ignore_errors=True)
                except OSError:
                    pass
        except OSError:
            pass
        _SCRATCH_ROOT = tempfile.mkdtemp(
            prefix=f"dms_scratch_{os.getpid()}_", dir=tmp
        )
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _batch_width_pin(spark: SparkSession, *paths: str):
    """Pin the shuffle width for a foreachBatch drain to the sized batch
    width (optimization r14): the per-micro-batch BATCH jobs inside
    foreachBatch inherit ``spark.sql.shuffle.partitions``, so a ~MB batch
    at the session width pays 32-way task scheduling for every shuffle in
    the probe plan. ``sized_batch_width`` tracks source volume (floor 8,
    cap session width — a GB-per-batch topic sizes up unchanged); results
    are partition-count-invariant (aggregates/joins/windows only).
    Measured (interleaved min-of-3, sf0.1): incremental_neardup
    3.52 -> 2.34 s, self_repetition 2.52 -> 1.82 s, cms/psi ~1.1x."""
    from dbt_meshify_spark.streaming.events import (
        sized_batch_width,
        stream_state_partitions,
    )

    return stream_state_partitions(spark, sized_batch_width(spark, *paths))


def _scratch_base() -> str:
    """Base dir for streaming scratch (state stores, checkpoints, staged
    stream inputs, micro-batch sinks) — all SINGLE-USE, deleted at session
    exit, never a cross-run cache.

    Preference order (guide §6 — streaming state is scheduler-critical
    small-file I/O, so put it on the fastest local medium): an explicit
    ``SPARK_GRAFT_SCRATCH`` env override; a RAM-backed ``/dev/shm`` when it
    is writable with >= 8 GiB free (the bench's whole streaming footprint
    is a few hundred MB; a production deployment points the override at
    local NVMe or keeps durable checkpoints on DFS — durability across
    machine loss is NOT needed for these drained availableNow runs);
    otherwise the process tempdir. Measured at sf0.1: /dev/shm takes the
    foreachBatch probe/psi streams from ~4.2 s to ~3.5 s (interleaved
    min-of-3) purely by removing sink+state fsync/IO stalls."""
    import tempfile

    override = os.environ.get("SPARK_GRAFT_SCRATCH")
    if override:
        return override
    shm = "/dev/shm"
    try:
        if os.path.isdir(shm) and os.access(shm, os.W_OK):
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= 8 * 1024**3:
                return shm
    except OSError:
        pass
    return tempfile.gettempdir()


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except OSError:
        return True


# --------------------------------------------------------------------------
# Deduplication (N1, N2)
# --------------------------------------------------------------------------


def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1] exact dedup on text with deterministic keep-first."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        exact_dedup(docs, ["text"], order_by=["doc_id"])
        .select("doc_id", "lang", "source")
        .orderBy(_asc("doc_id"))
    )


def ext_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] content fingerprint (normalized md5) per document."""
    docs = load_table(spark, sf_dir, "documents")
    return doc_fingerprint(docs).select("doc_id", "fingerprint").orderBy(_asc("doc_id"))


def ext_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N2] exact trigram-Jaccard near-dup pairs (inverted-index join)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5).orderBy(
        _asc("id_a"), _asc("id_b")
    )


def ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N2] near-dup cluster resolution: trigram-Jaccard pairs (>=0.5)
    -> connected components (auto tier: cheap min-label propagation for
    the clique-shaped typical graph, falling back to the large-star/
    small-star alternation — O(log^2 n) rounds — when a whale component
    stalls propagation; tiers and round counts measured in
    ``test_star_rounds_beat_propagate_on_whale_chain`` and
    ``test_cc_auto_tier_picks_cheap_then_falls_back``) -> every doc
    labeled with its cluster and keep/drop decision. Oracle: a
    recursive-CTE transitive closure over the identical pair set."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5)
    return (
        dedup_clusters(docs, pairs, variant="auto")
        .select("doc_id", "cluster_id", "is_representative")
        .orderBy(_asc("doc_id"))
    )


def ext_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N2] cross-document duplicated 20-token passages (boilerplate
    detector — the cheap tier of substring-level dedup)."""
    docs = load_table(spark, sf_dir, "documents")
    return duplicated_passages(docs, passage_tokens=20, min_docs=2).orderBy(
        _asc("passage")
    )


def ext_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N2] maximal duplicated token spans per doc: overlapping duplicated
    20-token shingles merged into regions by the sorted-interval walk
    (operators/dedup.py::duplicated_spans)."""
    from dbt_meshify_spark.operators.dedup import duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicated_spans(docs, passage_tokens=20, min_docs=2).orderBy(
        _asc("doc_id"), _asc("span_start")
    )


def ext_remove_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N2] substring-level dedup rewrite (ExactSubstr keep-one-copy):
    duplicated spans cut from non-canonical docs, text rebuilt from the
    surviving tokens without shuffling the corpus
    (operators/dedup.py::remove_duplicated_passages)."""
    from dbt_meshify_spark.operators.dedup import remove_duplicated_passages

    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicated_passages(docs, passage_tokens=20, min_docs=2).orderBy(
        _asc("doc_id")
    )


def ext_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N2] MinHash+LSH candidate near-dup pairs (rows-only check; recall
    asserted against exact Jaccard in tests)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidate_pairs(docs, min_jaccard_est=0.5).orderBy(
        _asc("id_a"), _asc("id_b")
    )


def ext_simhash_neardup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N2] SimHash near-dup with salted-md5 bit hashes (64 bits, 4 bands,
    hamming<=3 — the xxhash tier's geometry, cross-engine-reproducible) so
    oracle-checked end-to-end
    (operators/dedup.py::simhash_md5_candidate_pairs)."""
    from dbt_meshify_spark.operators.dedup import simhash_md5_candidate_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_md5_candidate_pairs(docs).orderBy(_asc("id_a"), _asc("id_b"))


def ext_minhash_neardup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N2] MinHash+LSH with the md5 k-independent-hash variant — the
    cross-engine-reproducible tier, so this one IS oracle-checked (DuckDB
    replays signature, banding, bucket cap, and estimate verbatim), closing
    the loop the xxhash64 scale tier can't. 32 hashes / 8 bands."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidate_pairs(
        docs, num_hashes=16, bands=8, min_jaccard_est=0.5, hash_fn="md5"
    ).orderBy(_asc("id_a"), _asc("id_b"))


def ext_cross_source_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N2/N9] multi-dataset dedup with source priority: documents carry
    a source tier (wiki > books > web here, derived from doc_id % 3), and
    when near-dups collide ACROSS sources the highest-priority copy wins —
    the multi-corpus curation rule (keep the curated copy, drop the crawl
    copy), not keep-min-id. Oracle: recursive-CTE closure + the same
    FIRST_VALUE election (operators/dedup.py::dedup_keep_priority)."""
    from dbt_meshify_spark.operators.dedup import dedup_keep_priority

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "priority", F.col("doc_id") % 3
    )
    pairs = ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5)
    out = dedup_keep_priority(docs, pairs)
    return out.select(
        "doc_id",
        F.element_at(
            F.array(F.lit("wiki"), F.lit("books"), F.lit("web")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("source"),
        "cluster_id",
        "kept_by",
        "is_kept",
    ).orderBy(_asc("doc_id"))


def ext_quality_top_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] quantile-threshold curation: keep the top 20% of documents
    by quality score, exact percent_rank tier (total order, deterministic
    ties) — the model-scored selection step; the approx-threshold scale
    tier is keep_top_fraction(exact=False)
    (operators/sampling.py::keep_top_fraction)."""
    from dbt_meshify_spark.operators.sampling import keep_top_fraction

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs).select(
        "doc_id", F.round("quality", 4).alias("quality")
    )
    out = keep_top_fraction(scored, "quality", 0.2, "doc_id", exact=True)
    return out.select(
        "doc_id", "quality", F.round("pr", 4).alias("pr")
    ).orderBy(_asc("doc_id"))


def ext_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9/N1] leakage-safe train/val/test split: the md5 draw keys on the
    near-dup CLUSTER label, so a document and its near-copies always land
    in the same split — group-aware splitting, the guard against eval
    contamination (operators/sampling.py::leakage_safe_split). Oracle:
    recursive-CTE closure + the same md5 thresholds."""
    from dbt_meshify_spark.operators.sampling import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5)
    return leakage_safe_split(docs, pairs).orderBy(_asc("doc_id"))


def ext_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N2] incremental near-dup: an incoming batch (doc_id % 5 = 0) probes
    a MinHash band index built over the standing corpus (doc_id % 5 != 0) —
    the continuous-curation shape where per-batch cost is O(batch), not
    O(corpus). md5 tier, so the DuckDB oracle replays index build + probe
    verbatim (operators/dedup.py::minhash_index/incremental_neardup_pairs)."""
    from dbt_meshify_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    sigs, bands = minhash_index(corpus, num_hashes=16, bands=8, hash_fn="md5")
    return incremental_neardup_pairs(
        batch, bands, sigs, num_hashes=16, bands=8, hash_fn="md5",
        min_jaccard_est=0.5,
    ).orderBy(_asc("new_id"), _asc("dup_of"))


def ext_stream_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6/N2] STREAMING incremental near-dup: the batch feed (doc_id % 5
    = 0) arrives as a file stream and every micro-batch probes the stored
    corpus MinHash index via foreachBatch — the deployment shape of
    continuous curation. Drained availableNow, the emitted relation equals
    the batch probe's, so it shares ext_incremental_neardup's oracle
    (streaming/documents.py::stream_neardup_against_index)."""

    from dbt_meshify_spark.operators.dedup import minhash_index
    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_neardup_against_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    sigs, bands = minhash_index(corpus, num_hashes=16, bands=8, hash_fn="md5")
    feed = read_documents_stream(
        spark, f"{sf_dir.rstrip('/')}/documents.parquet"
    ).filter(F.col("doc_id") % 5 == 0)
    out_dir = _stream_scratch("stream_inc_neardup_")
    with _batch_width_pin(spark, f"{sf_dir.rstrip('/')}/documents.parquet"):
        hits = stream_neardup_against_index(
            feed, bands, sigs, out_dir, num_hashes=16, bands=8, hash_fn="md5",
            min_jaccard_est=0.5,
        )
    return hits.orderBy(_asc("new_id"), _asc("dup_of"))


def ext_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N2] SimHash near-dup pairs within hamming<=3 (rows-only check)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidate_pairs(docs, max_hamming=3).orderBy(
        _asc("id_a"), _asc("id_b")
    )


# --------------------------------------------------------------------------
# Similarity search (N3)
# --------------------------------------------------------------------------


def ext_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3] exact brute-force cosine top-3 for query vectors vec_id<5."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return (
        cosine_topk(q, emb, k=3)
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy(_asc("query_id"), _asc("rank"))
    )


def ext_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3] LSH-bucketed approximate top-3 (scale path; ORACLE-checked via
    plane-literal replay, recall vs brute force asserted in tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return (
        lsh_bucketed_topk(q, emb, k=3, num_planes=64, bands=16)
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy(_asc("query_id"), _asc("rank"))
    )


def ext_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N2/N3] exact all-pairs embedding near-dup at cosine>=0.4 (the
    synthetic embeddings top out at ~0.51, so 0.4 exercises a real result
    set). Oracle-checked; the LSH-blocked variant below is the scale path."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_exact(emb, threshold=0.4).orderBy(
        _asc("id_a"), _asc("id_b")
    )


def ext_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N2/N3] LSH-blocked embedding near-dup (ORACLE-checked via
    plane-literal replay; recall vs the exact variant asserted in tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        emb, threshold=0.4, num_planes=64, bands=16
    ).orderBy(_asc("id_a"), _asc("id_b"))


def ext_cosine_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3] block-GEMM exact top-3 — same result set as ext_cosine_topk
    (shares its oracle); partial per-block top-k then global merge."""
    from dbt_meshify_spark.operators.similarity import cosine_topk_gemm

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return (
        cosine_topk_gemm(q, emb, k=3)
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy(_asc("query_id"), _asc("rank"))
    )


def ext_embedding_neardup_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N2/N3] block-GEMM exact near-dup — same result set as
    ext_embedding_neardup, BLAS execution (the engine the LSH/IVF tiers run
    inside their candidate blocks at scale). Shares that query's oracle."""
    from dbt_meshify_spark.operators.similarity import embedding_neardup_gemm

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_gemm(emb, threshold=0.4).orderBy(
        _asc("id_a"), _asc("id_b")
    )


# --------------------------------------------------------------------------
# Text analysis (N4)
# --------------------------------------------------------------------------


def ext_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3] per-vector int8 quantization of the embedding column — the
    memory-reduction scale path for ANN serving (operators/similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb)
    # checked output serializes the int8 array: value comparators (incl.
    # pandas-based canonicalizers) cannot sort/hash list cells — the q36
    # lesson; the array-typed surface stays covered by unit tests
    return out.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.concat_ws(",", F.col("q").cast("array<string>")).alias("q"),
    ).orderBy(_asc("vec_id"))


def ext_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        token_stats(docs)
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_alpha_tokens").cast("bigint").alias("n_alpha_tokens"),
            F.col("n_chars_obs").cast("bigint").alias("n_chars_obs"),
        )
        .orderBy(_asc("doc_id"))
    )


def ext_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return language_id(docs).select("doc_id", "lang_pred").orderBy(_asc("doc_id"))


def ext_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] lang-ID EVALUATION: confusion counts of the n-gram heuristic's
    prediction vs the documents table's ground-truth ``lang`` column — the
    quality-measurement loop every classifier-based curation filter needs
    (one scan; prediction and truth ride the same row, no join)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        language_id(docs)
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(_asc("lang"), _asc("lang_pred"))
    )


def ext_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] one-pass corpus profile: doc/token/char statistics at
    (lang, source), per-lang, and grand-total grains via ROLLUP — the
    dataset-card numbers, computed with a single scan + one combiner-
    friendly shuffle (grouping-set expansion happens map-side; no
    per-grain re-reads of a 100 TB corpus)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.length("text").alias("__nc"),
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("__nt"),
    )
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("__nt").cast("bigint")).alias("total_tokens"),
            F.round(F.avg("__nc"), 4).alias("avg_chars"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang_g"),
            F.coalesce(F.col("source"), F.lit("ALL")).alias("source_g"),
            "n_docs",
            "total_tokens",
            "avg_chars",
        )
        .orderBy(_asc("lang_g"), _asc("source_g"))
    )


def ext_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        quality_score(docs)
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("punct_chars").cast("bigint").alias("punct_chars"),
            F.col("stopword_hits").cast("bigint").alias("stopword_hits"),
            "quality",
        )
        .orderBy(_asc("doc_id"))
    )


def ext_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] Gopher-style repetition filters: top-bigram fraction +
    duplicate-trigram fraction per document (operators/text.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs).orderBy(_asc("doc_id"))


def ext_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N-decontam] benchmark decontamination: trigram overlap of each
    training doc against a broadcast eval-set gram set (operators/decontam.py).
    Eval set = every 20th doc_id, train = the rest (deterministic split)."""
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return ngram_overlap(train, eval_df, n=3, min_overlap=0.2).orderBy(_asc("doc_id"))


def ext_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] overlapping fixed-token chunking (64-token windows, stride 48) —
    RAG/context windowing as a pure explode projection (operators/text.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, stride=48).orderBy(
        _asc("doc_id"), _asc("chunk_id")
    )


def ext_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] per-document top-3 tf-idf keywords (operators/text.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3).orderBy(_asc("doc_id"), _asc("rank"))


def ext_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] vocabulary build (freq-ranked term ids, min_count=2) +
    document encoding to token-id arrays, OOV->0 (operators/text.py)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, min_count=2)
    enc = encode_docs(docs, vocab)
    # serialize the id array for the value comparator (q36 lesson)
    return enc.select(
        "doc_id",
        "n_tokens",
        F.concat_ws(",", F.col("token_ids").cast("array<string>")).alias(
            "token_ids"
        ),
    ).orderBy(_asc("doc_id"))


def ext_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] per-source equi-width histogram + CDF of document length
    (operators/text.py::histogram — aggregate first, window over buckets)."""
    docs = load_table(spark, sf_dir, "documents")
    return histogram(docs, "n_chars", 50.0, by=["source"]).orderBy(
        _asc("source"), _asc("bucket")
    )


# --------------------------------------------------------------------------
# Streaming (N6/N7) — REAL Structured Streaming execution, oracle-checked:
# the 1-day tumbling windows align to UTC midnight, so the drained stream
# must equal Q22's batch date_trunc aggregation exactly.
# --------------------------------------------------------------------------

_STREAM_COUNTER = [0]


def ext_stream_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6,N7] readStream over the events parquet -> event-time tumbling
    window aggregation -> memory sink, drained with availableNow. This runs
    the actual streaming engine (state store, micro-batches), not a batch
    rewrite — the DuckDB oracle gates it because day windows are
    deterministic."""
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        sized_state_partitions,
        tumbling_window_counts,
    )

    _STREAM_COUNTER[0] += 1
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    stream = read_events_stream(spark, path)
    agg = tumbling_window_counts(stream, window="1 day", watermark="1 hour")
    out = run_to_memory(
        agg,
        f"stream_tumbling_{_STREAM_COUNTER[0]}",
        state_partitions=sized_state_partitions(spark, path),
    )
    return out.select(
        F.col("window_start").cast("date").alias("day"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        "total_value",
    ).orderBy(_asc("day"), _asc("event_type"))


def ext_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N7] readStream -> event-time session windows (30 min gap) -> memory
    sink drained with availableNow: the REAL streaming session-window
    operator (state store merges windows as events arrive). Oracle: the
    lag/cumsum island SQL — Spark's session end is last event + gap."""
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        sized_state_partitions,
        session_window_stats,
    )

    _STREAM_COUNTER[0] += 1
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    stream = read_events_stream(spark, path)
    agg = session_window_stats(stream, gap="30 minutes", watermark="1 hour")
    out = run_to_memory(
        agg,
        f"stream_sessions_{_STREAM_COUNTER[0]}",
        state_partitions=sized_state_partitions(spark, path),
    )
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        F.col("n_events").cast("bigint").alias("n_events"),
    ).orderBy(_asc("user_id"), _asc("session_start"))


def ext_stream_sliding_halfhour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N7] readStream -> sliding windows (1h window, 30min slide) -> memory
    sink (complete mode, availableNow). Real streaming execution; each event
    lands in exactly window/slide = 2 windows, so the batch oracle explodes
    each event into its two half-hour-aligned window starts."""
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        sized_state_partitions,
        sliding_window_counts,
    )

    _STREAM_COUNTER[0] += 1
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    stream = read_events_stream(spark, path)
    agg = sliding_window_counts(stream, window="1 hour", slide="30 minutes")
    out = run_to_memory(
        agg,
        f"stream_sliding_{_STREAM_COUNTER[0]}",
        state_partitions=sized_state_partitions(spark, path),
    )
    return out.select(
        "window_start", F.col("n").cast("bigint").alias("n")
    ).orderBy(_asc("window_start"))


def ext_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6/UD5] readStream -> applyInPandasWithState per-user running totals
    (Arrow-batched custom stateful operator, update mode) -> memory sink.
    The sink accumulates one row per (user, update); the final state per
    user equals the batch groupBy — totals are monotone, so max(n_events)
    picks each user's last emission."""
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        sized_state_partitions,
        stateful_user_totals,
    )

    _STREAM_COUNTER[0] += 1
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    stream = read_events_stream(spark, path)
    out = run_to_memory(
        stateful_user_totals(stream),
        f"stream_stateful_{_STREAM_COUNTER[0]}",
        output_mode="update",
        state_partitions=sized_state_partitions(spark, path),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.round("total_value", 2).alias("total_value"),
        )
        .orderBy(_asc("user_id"))
    )


def ext_stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6,N8] stream-stream inner join with watermark-bounded state: two
    readStreams over the events parquet (clicks / purchases), joined per
    user on a 1-hour time-range condition, drained with availableNow. The
    oracle is the equivalent batch self-join — deterministic because the
    single-file source lands in one micro-batch (no mid-stream eviction)."""
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        sized_state_partitions,
        stream_stream_join_clicks_to_purchases,
    )

    _STREAM_COUNTER[0] += 1
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    clicks = read_events_stream(spark, path).filter(F.col("event_type") == "click")
    purchases = read_events_stream(spark, path).filter(
        F.col("event_type") == "purchase"
    )
    pairs = stream_stream_join_clicks_to_purchases(clicks, purchases)
    out = run_to_memory(
        pairs,
        f"stream_attrib_{_STREAM_COUNTER[0]}",
        output_mode="append",
        state_partitions=sized_state_partitions(spark, path),
    )
    return out.orderBy(_asc("purchase_id"), _asc("click_id"))


# --------------------------------------------------------------------------
# Multimodal plumbing (N5) — rows-only (payload digests have no SQL oracle)
# --------------------------------------------------------------------------


def ext_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6/N1] streaming exact dedup: the events feed unioned with itself
    (every event delivered twice — the at-least-once ingest shape) flows
    through ``dropDuplicatesWithinWatermark``; a real streaming run (state
    store, append mode) must reproduce exactly the batch-distinct relation.
    State is bounded by the watermark horizon, not the stream length."""
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        sized_state_partitions,
        stream_dedup,
    )

    _STREAM_COUNTER[0] += 1
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    doubled = read_events_stream(spark, path).unionByName(
        read_events_stream(spark, path)
    )
    deduped = stream_dedup(doubled, keys=["event_id"], watermark="1 hour")
    out = run_to_memory(
        deduped,
        f"stream_dedup_{_STREAM_COUNTER[0]}",
        output_mode="append",
        state_partitions=sized_state_partitions(spark, path, path),
    )
    return out.select("event_id", "user_id", "event_type", "value").orderBy(
        _asc("event_id")
    )


def ext_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N5] binary payload column + Arrow-batched feature extraction.

    Media synthesized deterministically from documents (no codecs in this
    container); the mapInPandas plumbing is the real scale path.
    """
    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_media(docs, "doc_id", "text")
    return (
        extract_features(media)
        .select("media_id", "n_bytes", "payload_digest")
        .orderBy(_asc("media_id"))
    )


# --------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect on its side is allowed — the driver runs these
# through DuckDB only)
# --------------------------------------------------------------------------


def _occ_sql(word: str) -> str:
    """Replace-and-measure occurrence count of a padded marker word."""
    needle = f" {word} "
    return (
        f"CAST((length(' ' || lower(text) || ' ') - "
        f"length(replace(' ' || lower(text) || ' ', '{needle}', ''))) / {len(needle)} AS INT)"
    )


def _lang_id_sql() -> str:
    langs = sorted(LANG_MARKERS)
    score_exprs = {
        lang: " + ".join(_occ_sql(w) for w in LANG_MARKERS[lang]) for lang in langs
    }
    selects = ",\n       ".join(f"({e}) AS s_{lang}" for lang, e in score_exprs.items())
    greatest = "GREATEST(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    cases = "\n            ".join(
        f"WHEN s_{lang} = {greatest} THEN '{lang}'" for lang in langs[:-1]
    )
    return f"""
WITH occ AS (
  SELECT doc_id,
       {selects}
  FROM documents
)
SELECT doc_id,
       CASE WHEN {greatest} <= 0 THEN 'und'
            {cases}
            ELSE '{langs[-1]}' END AS lang_pred
FROM occ ORDER BY doc_id NULLS FIRST
"""


def _lang_id_eval_sql() -> str:
    langs = sorted(LANG_MARKERS)
    selects = ",\n       ".join(
        f"({' + '.join(_occ_sql(w) for w in LANG_MARKERS[lang])}) AS s_{lang}"
        for lang in langs
    )
    greatest = "GREATEST(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    cases = "\n            ".join(
        f"WHEN s_{lang} = {greatest} THEN '{lang}'" for lang in langs[:-1]
    )
    return f"""
WITH occ AS (
  SELECT doc_id, lang,
       {selects}
  FROM documents
),
pred AS (
  SELECT doc_id, lang,
         CASE WHEN {greatest} <= 0 THEN 'und'
              {cases}
              ELSE '{langs[-1]}' END AS lang_pred
  FROM occ
)
SELECT lang, lang_pred, COUNT(*) AS n
FROM pred GROUP BY lang, lang_pred
ORDER BY lang NULLS FIRST, lang_pred NULLS FIRST
"""


def _quality_sql() -> str:
    stop = " + ".join(_occ_sql(w) for w in ("the", "a", "and", "of"))
    return f"""
WITH feat AS (
  SELECT doc_id,
         length(text) AS n_chars,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS punct_chars,
         CAST({stop} AS BIGINT) AS stopword_hits
  FROM documents
),
scored AS (
  SELECT doc_id, n_tokens, punct_chars, stopword_hits,
         LEAST(n_chars / 500.0, 1.0) AS len_score,
         1.0 - LEAST(punct_chars / GREATEST(n_chars, 1) * 10.0, 1.0) AS punct_score,
         LEAST(stopword_hits / GREATEST(n_tokens, 1) * 5.0, 1.0) AS stop_score,
         CASE WHEN (n_chars - (n_tokens - 1)) / GREATEST(n_tokens, 1) >= 3
               AND (n_chars - (n_tokens - 1)) / GREATEST(n_tokens, 1) <= 10
              THEN 1.0 ELSE 0.5 END AS tok_score
  FROM feat
)
SELECT doc_id, n_tokens, punct_chars, stopword_hits,
       ROUND((len_score + punct_score + stop_score + tok_score) / 4.0, 4) AS quality
FROM scored ORDER BY doc_id NULLS FIRST
"""


# quality formula as a composable CTE body (used standalone by
# ext_quality_score and inside ext_cluster_best_keep's closure query)
_QUALITY_CTE_SQL = _quality_sql()


_TRIGRAMS_CTE = r"""
toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(l) - 1),
                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS gram
  FROM toks
)
"""


def ext_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4 approx tier] HLL++ approx_count_distinct + t-digest
    approx_percentile per event_type — the one-pass mergeable-sketch
    versions of q07/q23's exact aggregates. Rows-only by design: sketch
    internals differ per engine, so the DuckDB oracle cannot hash-match
    them; tests/test_operators.py asserts relative error vs the exact
    aggregates instead (2% rsd configured, 5% asserted)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.percentile_approx("value", 0.5, 10000).alias("approx_median_value"),
            F.percentile_approx("value", 0.99, 10000).alias("approx_p99_value"),
        )
        .orderBy(_asc("event_type"))
    )


def ext_topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N-skew] skew-safe exact top-k per key (operators/skew.py): local
    per-partition top-k prunes before the per-key shuffle, so a hot
    event_type moves at most k·P rows instead of all of them."""
    from dbt_meshify_spark.operators.skew import topk_per_key

    ev = load_table(spark, sf_dir, "events")
    out = topk_per_key(
        ev.select("event_type", "event_id", "value"),
        keys=["event_type"],
        order_cols=[F.col("value").desc(), F.col("event_id").asc()],
        k=3,
    )
    return out.select(
        "event_type",
        F.col("rn").cast("int").alias("rn"),
        "event_id",
        F.round("value", 2).alias("value_r"),
    ).orderBy(F.asc_nulls_first("event_type"), F.asc_nulls_first("rn"))


def ext_count_distinct_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N-skew] skew-safe exact COUNT(DISTINCT user_id) per event_type: the
    first shuffle keys on (event_type, hash(user) % 64) so one hot key
    spreads over 64 tasks; bucket counts sum exactly."""
    from dbt_meshify_spark.operators.skew import count_distinct_salted

    ev = load_table(spark, sf_dir, "events")
    out = count_distinct_salted(
        ev, keys=["event_type"], value_col="user_id", out_col="n_users"
    )
    return out.select("event_type", "n_users").orderBy(
        F.asc_nulls_first("event_type")
    )


def ext_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3] IVF approximate top-3 (the other ANN scale path next to LSH):
    spherical-k-means cells, nprobe probing, exact scoring inside cells.
    Rows-only check; recall vs brute force asserted in tests."""
    from dbt_meshify_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return (
        ivf_topk(q, emb, k=3, nlist=16, nprobe=4)
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy(_asc("query_id"), _asc("rank"))
    )


def ext_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N-temporal] as-of join (operators/temporal.py): each click gets the
    user's most recent prior-or-equal purchase timestamp. Union+window — one
    shuffle on user_id, never an inequality join."""
    from dbt_meshify_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    # unique per (user_id, ts): determinism contract of asof_join
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
    )
    out = asof_join(
        clicks,
        purchases,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["purchase_id"],
    )
    return out.select(
        "event_id", "user_id",
        F.col("_matched_ts").alias("last_purchase_ts"),
        "purchase_id",
    ).orderBy(F.asc_nulls_first("event_id"))


def ext_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N-temporal] keyed range join: clicks within 1 hour after each
    purchase, per user. Equi-join on user_id + range filter — Catalyst
    plans a plain shuffle join, the range never nested-loops."""
    from dbt_meshify_spark.operators.temporal import range_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("p_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    hits = range_join(
        clicks,
        purchases,
        left_point="ts",
        right_start="p_start",
        right_end="p_end",
        keys=["user_id"],
        how="inner",
    )
    counts = hits.groupBy("purchase_id").agg(
        F.count("click_id").alias("_n")
    )
    return (
        purchases.select("purchase_id")
        .join(counts, "purchase_id", "left")
        .select(
            "purchase_id",
            F.coalesce("_n", F.lit(0)).alias("clicks_within_1h"),
        )
        .orderBy(F.asc_nulls_first("purchase_id"))
    )


# --------------------------------------------------------------------------
# Training-data pipeline: sampling / mixture / sharding / PII (N9, NEW)
# --------------------------------------------------------------------------

_STRATA_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.1, "zh": 0.1}
_MIX_WEIGHTS = {
    **{s: 2.5 for s in ("src0", "src1")},
    **{f"src{i}": 0.5 for i in range(10, 20)},
    **{f"src{i}": 0.25 for i in range(2, 10)},
}


def ext_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9] deterministic per-language stratified sample: membership is a
    pure function of md5('s0'|doc_id) vs a per-stratum hex threshold — one
    narrow pushed-down filter, no shuffle, reproducible across runs, and
    nested across rates (rate bump = strict superset)."""
    from dbt_meshify_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, "lang", _STRATA_RATES, ["doc_id"], seed="s0")
        .select("doc_id", "lang", "source")
        .orderBy(_asc("doc_id"))
    )


def ext_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9] weighted source mixture: n_copies per row (floor(w) + Bernoulli
    on the fractional part, derandomized via the md5 key) so expected copy
    count equals the weight exactly; up-sampled sources (w=2.5) and
    down-sampled ones (w=0.25) in one pass."""
    from dbt_meshify_spark.operators.sampling import mixture_copies

    docs = load_table(spark, sf_dir, "documents")
    return (
        mixture_copies(docs, "source", _MIX_WEIGHTS, ["doc_id"], seed="s0")
        .select("doc_id", "source", "n_copies")
        .orderBy(_asc("doc_id"))
    )


def ext_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9] hash-mod training-shard assignment (16 shards) + per-shard
    volume stats: the shuffle-free membership half of the shard writer
    (write_training_shards does the ranged write); shard sizes concentrate
    at n/16 by md5 uniformity — the balance the stats exhibit."""
    from dbt_meshify_spark.operators.sampling import shard_assignment

    docs = load_table(spark, sf_dir, "documents")
    return (
        shard_assignment(docs, ["doc_id"], 16, seed="s0")
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy(_asc("shard_id"))
    )


def ext_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9, hash-checked] greedy sequence packing into 256-token training
    sequences (operators/sampling.py::pack_sequences). The per-shard
    greedy scan is sequential, but it IS deterministic given the md5-key
    order, so the oracle unrolls the bin state as a recursive CTE — one
    recursion step per row rank, all 8 shards advancing in parallel per
    step (the BPE-merge/unigram-EM unrolling discipline; bounded depth =
    max shard size, ~ n/8 at sf0.01). Oracle-promoted in round 11 (was
    rows-only); exactly-once/budget/utilization invariants stay in
    tests."""
    from dbt_meshify_spark.operators.sampling import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.withColumn(
        "n_tokens", F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    packed = pack_sequences(with_tokens, budget=256, n_shards=8)
    return (
        packed.groupBy("shard_id", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tokens").alias("pack_tokens"),
        )
        .orderBy(_asc("shard_id"), _asc("pack_id"))
    )


def ext_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9] PII redaction: Luhn-GATED card masking (valid cards — even
    separator-grouped — become [CARD]; checksum-invalid order ids stay)
    then chained RE2-safe regexp_replace (email/SSN/phone/IP -> tokens),
    codegen'd at scan speed. The corpus has no real PII, so the query
    synthesizes a contact note per customer from stable keys — a phone,
    an email, a known-Luhn-valid card formatted contiguous/spaced/dashed
    by key % 3, and a dash-grouped key-derived order id (almost always
    Luhn-invalid, so it must survive) — then redacts it; the oracle
    replays both halves including the Luhn gate."""
    from dbt_meshify_spark.operators.text import redact_pii

    cust = load_table(spark, sf_dir, "customer")
    # 4539148803436467 is a Luhn-valid test number; format varies by key
    card = (
        F.when(F.col("c_custkey") % 3 == 1, F.lit("4539 1488 0343 6467"))
        .when(F.col("c_custkey") % 3 == 2, F.lit("4539-1488-0343-6467"))
        .otherwise(F.lit("4539148803436467"))
    )
    # modulo BEFORE the product keeps the order id inside int64 at any key
    oid = F.lpad(
        (((F.col("c_custkey") % 1000000000000) * 31 + 11) % F.lit(10000000000000000))
        .cast("string"),
        16,
        "0",
    )
    order_id = F.concat_ws(
        "-", oid.substr(1, 4), oid.substr(5, 4), oid.substr(9, 4), oid.substr(13, 4)
    )
    note = F.concat(
        F.lit("call ("),
        F.lpad((F.col("c_custkey") % 800 + 200).cast("string"), 3, "0"),
        F.lit(") "),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((F.col("c_custkey") * 7919) % 10000).cast("string"), 4, "0"),
        F.lit(" or mail "),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@example.com card "),
        card,
        F.lit(" order "),
        order_id,
    )
    # sort BEFORE the redaction projection: a global orderBy's range-
    # partitioning sample re-executes its child plan, and with no exchange
    # between the scan and the sort that child is the full Luhn+regex
    # chain — measured 2x the whole query (3.2 -> 1.7 s). Sorting the
    # cheap synthesis first leaves the sample pass nothing expensive to
    # replay; the narrow projection afterwards preserves the order.
    synth = cust.withColumn("note", note).select("c_custkey", "note").orderBy(
        _asc("c_custkey")
    )
    return redact_pii(synth, ["note"]).select(
        "c_custkey", "note", "note_redacted"
    )


def ext_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] CCNet-style LM quality tier: per-document NLL + perplexity under
    an add-one-smoothed bigram model trained on the corpus itself
    (operators/lm.py). One tokenize pass; scoring is equi-joins over
    pre-aggregated count tables."""
    from dbt_meshify_spark.operators.lm import bigram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return bigram_perplexity(docs).orderBy(_asc("doc_id"))


def ext_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] CCNet-style perplexity bucketing: per LANGUAGE, documents
    split into head/middle/tail terciles by LM perplexity (low ppl =
    LM-typical = head) — the classic quality stratification that trains on
    head+middle and drops or re-weights tail. Composes bigram_perplexity
    (rounded ppl, so the per-lang NTILE order is engine-identical with the
    doc_id tiebreak); one extra keys-only join for lang and one window
    shuffle on lang."""
    from dbt_meshify_spark.operators.lm import bigram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    ppl = bigram_perplexity(docs)
    joined = ppl.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("ppl").asc(), F.col("doc_id").asc()
    )
    buckets = F.array(F.lit("head"), F.lit("middle"), F.lit("tail"))
    return (
        joined.withColumn("tercile", F.ntile(3).over(w))
        .withColumn("bucket", F.element_at(buckets, F.col("tercile")))
        .select(
            "doc_id",
            "lang",
            "ppl",
            F.col("tercile").cast("bigint").alias("tercile"),
            "bucket",
        )
        .orderBy(_asc("doc_id"))
    )


def ext_domain_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] C4/RefinedWeb-style domain curation: rank domains (`source`)
    by mean doc quality, keep documents from the top 10 domains
    (operators/domains.py). Corpus is never shuffled — the keep-set joins
    back as a broadcast."""
    from dbt_meshify_spark.operators.domains import filter_top_domains

    docs = load_table(spark, sf_dir, "documents")
    return (
        filter_top_domains(docs, top_k=10)
        .select("doc_id", "source", "domain_rank", "avg_quality")
        .orderBy(_asc("doc_id"))
    )


def ext_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] per-document token-distribution Shannon entropy
    (operators/text.py::token_entropy) — information-density quality signal."""
    from dbt_meshify_spark.operators.text import token_entropy

    docs = load_table(spark, sf_dir, "documents")
    return token_entropy(docs).orderBy(_asc("doc_id"))


def ext_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9] deterministic exact-k quota sampling: 5 docs per (lang, source)
    cell ranked by md5(seed|doc_id) (operators/sampling.py::sample_exact_k,
    skew-safe via the local-prune window). Fully deterministic, so
    oracle-checked — DuckDB replays the same md5 ranking."""
    from dbt_meshify_spark.operators.sampling import sample_exact_k

    docs = load_table(spark, sf_dir, "documents")
    return (
        sample_exact_k(docs, k=5, by=["lang", "source"], key_cols=["doc_id"])
        .select("doc_id", "lang", "source")
        .orderBy(_asc("lang"), _asc("source"), _asc("doc_id"))
    )


def ext_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4 model tier] distilled logistic quality classifier
    (operators/classifier.py): weights learned driver-side from a bounded
    hash-mod sample against the heuristic teacher, then applied corpus-wide
    as a codegen'd sigmoid over literal weights — no UDF, no shuffle.
    Rows-only by design (gradient-descent training has no SQL form);
    separation/determinism asserted in unit tests."""
    from dbt_meshify_spark.operators.classifier import (
        score_quality_classifier,
        train_quality_classifier,
    )

    docs = load_table(spark, sf_dir, "documents")
    w = train_quality_classifier(docs, sample_max=2048)
    return (
        score_quality_classifier(docs, w)
        .select("doc_id", F.round("clf_score", 4).alias("clf_score"))
        .orderBy(_asc("doc_id"))
    )


def ext_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N4/N-decontam composed] the full curation pipeline as ONE
    DataFrame program (operators/pipeline.py): normalize → language-ID →
    quality filter → exact dedup → decontaminate, oracle-checked
    END-TO-END (every stage is SQL-expressible, so the composition is too).
    Train = doc_id % 20 != 0; eval = the held-out twentieths."""
    from dbt_meshify_spark.operators.pipeline import curate_corpus

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 20 != 0)
    eval_df = docs.filter(F.col("doc_id") % 20 == 0)
    return (
        curate_corpus(train, eval_df, quality_min=0.5)
        .select("doc_id", "lang_pred", "quality", "n_chars_norm")
        .orderBy(_asc("doc_id"))
    )


def ext_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[G-scale] 2-iteration damped PageRank over the supplier→customer
    ships-to graph (operators/graph_rank.py). Oracle: the same two rounds
    unrolled as CTEs — join-based iteration is exactly reproducible in SQL
    when the iteration count is fixed."""
    from dbt_meshify_spark.operators.graph_rank import pagerank

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # distinct on the INT key pair first — the shuffle dedups 8-byte pairs
    # instead of concatenated strings; the string node ids are built on
    # the ~10x-smaller distinct frame (the ext_label_propagation shape).
    # concat is injective here (fixed prefixes), so distinct-before equals
    # distinct-after and the operator's own distinct is a cheap no-op.
    pairs = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select("l_suppkey", "o_custkey")
        .distinct()
    )
    edges = pairs.select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
    )
    return (
        pagerank(edges, iters=2)
        .select("id", F.round("pagerank", 6).alias("pagerank"))
        .orderBy(_asc("id"))
    )


def ext_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N2/N3 composed] SemDeDup-shape semantic dedup: IVF k-means clusters
    -> per-cluster block-GEMM near-identical pairs -> connected-components
    keep-min (operators/similarity.py::semantic_dedup). Rows-only by design
    (k-means); dropped-witness invariants unit-tested."""
    from dbt_meshify_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        semantic_dedup(emb, threshold=0.45, n_clusters=8)
        .select("vec_id", F.col("sem_cluster").cast("bigint").alias("sem_cluster"))
        .orderBy(_asc("vec_id"))
    )


def ext_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S-semi-structured] JSON property extraction over the events payload
    column: parse ``props``, pull ``$.k``, aggregate per event type.

    ``get_json_object`` is a JVM-side path expression (no UDF, codegen'd,
    and the projection prunes to (event_type, props) at the scan) — the
    standard semi-structured pattern: extract-then-aggregate, never
    parse-per-consumer downstream."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count("k").alias("n_with_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy(_asc("event_type"))
    )


def ext_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[O-funnel] ordered 3-stage conversion funnel (view -> click ->
    purchase): a user advances a stage only with an event strictly after
    their previous stage's first event. Per-stage user counts.

    Plan: three tiny per-user min-aggregates chained by equi-joins on
    user_id — each stage's frame shrinks, all shuffles share the user_id
    key so Catalyst plans one partitioning. The classic product-analytics
    operator (no reference analog; data-plane extension like the rest of
    §2.6)."""
    events = load_table(spark, sf_dir, "events")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    rows = [
        v.select(F.lit("1_view").alias("stage"), "user_id"),
        c.select(F.lit("2_click").alias("stage"), "user_id"),
        p.select(F.lit("3_purchase").alias("stage"), "user_id"),
    ]
    out = rows[0].unionByName(rows[1]).unionByName(rows[2])
    return (
        out.groupBy("stage")
        .agg(F.count("*").alias("n_users"))
        .orderBy(_asc("stage"))
    )


def ext_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[O-cohort] weekly cohort retention: users grouped by the week of
    their first event; for each later week-offset, how many were active.

    Two shuffles (first-seen per user, then (cohort, offset) count); the
    cohort frame is per-user-small and joins back on user_id. date_trunc
    'week' is Monday-start on both engines."""
    events = load_table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .select(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            (
                F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
            ).cast("bigint").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
        .orderBy(_asc("cohort_week"), _asc("week_offset"))
    )


def ext_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] BPE tokenizer tier (operators/bpe.py): merges learned
    driver-side from a bounded hash-mod sample (one scan), encoding applied
    corpus-wide via an Arrow-batched pandas UDF with the merge table in the
    task closure. Rows-only by design: greedy iterative merge learning has
    no SQL form; losslessness/determinism are asserted in unit tests."""
    from dbt_meshify_spark.operators.bpe import apply_bpe, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=30, sample_max=2048)
    return (
        apply_bpe(docs, merges)
        .select("doc_id", "n_bpe_tokens", F.slice("bpe_tokens", 1, 5).alias("head"))
        .orderBy(_asc("doc_id"))
    )


def ext_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] corpus normalization: lowercase + control-char strip + whitespace
    collapse as a pure chained-regexp projection (operators/text.py::
    normalize_text) — the canonical form the dedup hash family keys on.
    Codegen'd, scan-speed, zero shuffle beyond the presentation sort."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        normalize_text(docs)
        .select("doc_id", "text_norm", "n_chars_norm")
        .orderBy(_asc("doc_id"))
    )


def ext_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3/N4] Okapi BM25 lexical retrieval over documents for a fixed query
    bag (operators/text.py::bm25_scores). The explode is filtered to the
    query terms before any shuffle, so the aggregate carries |docs|x|query|
    rows at most; N/avgdl ride a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(docs, ["spark", "query", "merge"]).orderBy(_asc("doc_id"))


def ext_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9] temperature-based mixture plan (alpha=0.5): per-source document
    count, copy weight w_s = n_s^alpha / Z * N / n_s, and the expected
    post-mixture size — small sources up-sampled, dominant ones
    down-sampled, expected total preserved
    (operators/sampling.py::temperature_weights; the per-row n_copies
    composition with mixture_copies is unit-tested — its md5 thresholds are
    plan-time floats, so the source-level plan is the oracle-checked
    surface)."""
    from dbt_meshify_spark.operators.sampling import temperature_weights

    docs = load_table(spark, sf_dir, "documents")
    weights = temperature_weights(docs, "source", alpha=0.5)
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = F.create_map(
        *[x for s, wt in sorted(weights.items()) for x in (F.lit(s), F.lit(wt))]
    )
    return (
        counts.withColumn("weight", F.round(w[F.col("source")], 4))
        .withColumn(
            "expected_docs", F.round(w[F.col("source")] * F.col("n_docs"), 2)
        )
        .orderBy(_asc("source"))
    )


def ext_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3/N9] coverage-aware subset selection: 64 embeddings drawn with
    equal quotas from 16 IVF cells, so sparse regions of the space are
    represented instead of the densest mode dominating
    (operators/sampling.py::diverse_sample). Rows-only by design (k-means
    quantizer is not SQL-expressible); per-cell quota/coverage/determinism
    invariants asserted in tests."""
    from dbt_meshify_spark.operators.sampling import diverse_sample

    emb = load_table(spark, sf_dir, "embeddings")
    return diverse_sample(emb, k=64, nlist=16).orderBy(_asc("vec_id"))


def ext_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S/J-scale] fact-to-fact join over a bucketed layout: lineitem and
    orders are materialized once bucketed on the order key
    (sources/bucketing.py), then sort-merge-joined with ZERO exchange on
    either side — the write-once/join-free pattern that removes the
    dominant recurring shuffle at 100 TB. The merge hint pins the plan the
    cluster would run (broadcast would hide the property at toy scale);
    plan guarded by tests/test_plan_quality.py."""
    from dbt_meshify_spark.sources.bucketing import ensure_bucketed

    li = ensure_bucketed(
        spark, load_table(spark, sf_dir, "lineitem"), "lineitem", sf_dir,
        ["l_orderkey"], num_buckets=8,
    )
    orders = ensure_bucketed(
        spark, load_table(spark, sf_dir, "orders"), "orders", sf_dir,
        ["o_orderkey"], num_buckets=8,
    )
    joined = li.hint("merge").join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(_asc("o_orderpriority"))
    )


def ext_incremental_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1] exact-tier incremental dedup: an incoming batch (doc_id % 5 = 0)
    anti-joins the standing corpus's DISTINCT fingerprint set (doc_id % 5
    != 0), within-batch dups folded keep-first
    (operators/dedup.py::dedup_against_index — the exact-tier twin of
    ext_incremental_neardup; per-batch cost O(batch), corpus payload never
    moves)."""
    from dbt_meshify_spark.operators.dedup import dedup_against_index

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return (
        dedup_against_index(batch, corpus)
        .select("doc_id", "lang", "source")
        .orderBy(_asc("doc_id"))
    )


def ext_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3/N9] hard-negative mining for contrastive training: per query
    vector (vec_id<5), the top-3 most-similar embeddings with a DIFFERENT
    label (operators/similarity.py::hard_negatives — label-mismatch folded
    into the broadcast join predicate, so disagreeing pairs never reach the
    dot product)."""
    from dbt_meshify_spark.operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return (
        hard_negatives(q, emb, k=3)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "cos_sim",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy(_asc("query_id"), _asc("rank"))
    )


def ext_hard_negatives_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3/N9] LSH-blocked hard-negative mining — the scale path of
    ext_hard_negatives: banded candidates, keys-only cross-label pruning
    before vectors re-join, Arrow cosine inside candidates only
    (operators/similarity.py::hard_negatives_lsh). ORACLE-checked since
    round 12 via the plane-literal replay (the ext_ann_lsh_topk recipe:
    deterministic hyperplanes as SQL literals, sign folds FP-identical by
    left-fold order, cosine compared at 4dp where einsum-vs-fold ulp noise
    is order-insensitive); recall vs the exact miner asserted in tests."""
    from dbt_meshify_spark.operators.similarity import hard_negatives_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return (
        hard_negatives_lsh(q, emb, k=3, num_planes=64, bands=16)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "cos_sim",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy(_asc("query_id"), _asc("rank"))
    )


def ext_cluster_best_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N2/N4] quality-aware near-dup resolution: trigram-Jaccard
    clusters (same pair set as ext_dedup_clusters) but the kept
    representative is the HIGHEST-quality member, not the min id
    (operators/dedup.py::keep_best_of_cluster). The labeling join and the
    per-cluster argmax window carry only (doc_id, cluster_id, quality) —
    payloads never shuffle. Oracle: recursive transitive closure + the same
    quality formula + a window argmax."""
    from dbt_meshify_spark.operators.dedup import keep_best_of_cluster

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5)
    scored = quality_score(docs).select("doc_id", "quality")
    return (
        keep_best_of_cluster(scored, pairs, score_col="quality")
        .select("doc_id", "cluster_id", "quality", "is_representative")
        .orderBy(_asc("doc_id"))
    )


QUERIES = {
    "ext_dedup_exact": ext_dedup_exact,
    "ext_dedup_clusters": ext_dedup_clusters,
    "ext_dup_passages": ext_dup_passages,
    "ext_dup_spans": ext_dup_spans,
    "ext_remove_dup_passages": ext_remove_dup_passages,
    "ext_fingerprint": ext_fingerprint,
    "ext_ngram_jaccard": ext_ngram_jaccard,
    "ext_minhash_neardup": ext_minhash_neardup,
    "ext_simhash_neardup": ext_simhash_neardup,
    "ext_cosine_topk": ext_cosine_topk,
    "ext_hard_negatives": ext_hard_negatives,
    "ext_hard_negatives_lsh": ext_hard_negatives_lsh,
    "ext_cluster_best_keep": ext_cluster_best_keep,
    "ext_incremental_exact_dedup": ext_incremental_exact_dedup,
    "ext_bucketed_join": ext_bucketed_join,
    "ext_diverse_sample": ext_diverse_sample,
    "ext_temperature_mixture": ext_temperature_mixture,
    "ext_ccnet_buckets": ext_ccnet_buckets,
    "ext_ann_lsh_topk": ext_ann_lsh_topk,
    "ext_ann_ivf_topk": ext_ann_ivf_topk,
    "ext_embedding_neardup": ext_embedding_neardup,
    "ext_embedding_neardup_lsh": ext_embedding_neardup_lsh,
    "ext_embedding_neardup_gemm": ext_embedding_neardup_gemm,
    "ext_cosine_topk_gemm": ext_cosine_topk_gemm,
    "ext_minhash_neardup_md5": ext_minhash_neardup_md5,
    "ext_simhash_neardup_md5": ext_simhash_neardup_md5,
    "ext_incremental_neardup": ext_incremental_neardup,
    "ext_leakage_safe_split": ext_leakage_safe_split,
    "ext_quality_top_fraction": ext_quality_top_fraction,
    "ext_cross_source_dedup": ext_cross_source_dedup,
    "ext_stream_incremental_neardup": ext_stream_incremental_neardup,
    "ext_semantic_dedup": ext_semantic_dedup,
    "ext_json_props": ext_json_props,
    "ext_funnel_conversion": ext_funnel_conversion,
    "ext_cohort_retention": ext_cohort_retention,
    "ext_embedding_quantize": ext_embedding_quantize,
    "ext_token_stats": ext_token_stats,
    "ext_lang_id": ext_lang_id,
    "ext_lang_id_eval": ext_lang_id_eval,
    "ext_corpus_profile": ext_corpus_profile,
    "ext_quality_score": ext_quality_score,
    "ext_repetition_quality": ext_repetition_quality,
    "ext_decontaminate": ext_decontaminate,
    "ext_length_histogram": ext_length_histogram,
    "ext_chunk_documents": ext_chunk_documents,
    "ext_tfidf_top_terms": ext_tfidf_top_terms,
    "ext_vocab_encode": ext_vocab_encode,
    "ext_multimodal_features": ext_multimodal_features,
    "ext_stream_tumbling_daily": ext_stream_tumbling_daily,
    "ext_stream_session_windows": ext_stream_session_windows,
    "ext_stream_click_attribution": ext_stream_click_attribution,
    "ext_stream_sliding_halfhour": ext_stream_sliding_halfhour,
    "ext_stream_stateful_totals": ext_stream_stateful_totals,
    "ext_stream_dedup": ext_stream_dedup,
    "ext_topk_per_key": ext_topk_per_key,
    "ext_count_distinct_salted": ext_count_distinct_salted,
    "ext_approx_sketches": ext_approx_sketches,
    "ext_asof_join": ext_asof_join,
    "ext_range_join": ext_range_join,
    "ext_stratified_sample": ext_stratified_sample,
    "ext_dataset_mixture": ext_dataset_mixture,
    "ext_shard_assign": ext_shard_assign,
    "ext_pack_sequences": ext_pack_sequences,
    "ext_pii_redact": ext_pii_redact,
    "ext_lm_perplexity": ext_lm_perplexity,
    "ext_domain_quality_filter": ext_domain_quality_filter,
    "ext_text_normalize": ext_text_normalize,
    "ext_bm25_retrieval": ext_bm25_retrieval,
    "ext_bpe_encode": ext_bpe_encode,
    "ext_pagerank": ext_pagerank,
    "ext_curation_pipeline": ext_curation_pipeline,
    "ext_quality_classifier": ext_quality_classifier,
    "ext_token_entropy": ext_token_entropy,
    "ext_sample_exact_k": ext_sample_exact_k,
}


def _curation_sql(final: str | None = None) -> str:
    """Shared curation-pipeline CTEs (staged/kept/ranked/deduped/
    contaminated) + the given final SELECT (default: the survivor
    relation; the report query passes its attribution SELECT)."""
    langs = sorted(LANG_MARKERS)
    score_sel = ",\n         ".join(
        f"({' + '.join(_occ_sql(w) for w in LANG_MARKERS[lang])}) AS s_{lang}"
        for lang in langs
    )
    greatest = "GREATEST(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    cases = "\n              ".join(
        f"WHEN s_{lang} = {greatest} THEN '{lang}'" for lang in langs[:-1]
    )
    stop = " + ".join(_occ_sql(w) for w in ("the", "a", "and", "of"))
    return f"""
WITH train AS (SELECT * FROM documents WHERE doc_id % 20 <> 0),
normed AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(lower(text), '[\\x00-\\x1f\\x7f]', ' ', 'g'),
                             '\\s+', ' ', 'g')) AS text_norm,
         {score_sel},
         length(text) AS n_chars,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS punct_chars,
         CAST({stop} AS BIGINT) AS stopword_hits
  FROM train
),
staged AS (
  SELECT doc_id, text, text_norm,
         CASE WHEN {greatest} <= 0 THEN 'und'
              {cases}
              ELSE '{langs[-1]}' END AS lang_pred,
         ROUND((LEAST(n_chars / 500.0, 1.0)
                + (1.0 - LEAST(punct_chars / GREATEST(n_chars, 1) * 10.0, 1.0))
                + LEAST(stopword_hits / GREATEST(n_tokens, 1) * 5.0, 1.0)
                + CASE WHEN (n_chars - (n_tokens - 1)) / GREATEST(n_tokens, 1) >= 3
                        AND (n_chars - (n_tokens - 1)) / GREATEST(n_tokens, 1) <= 10
                       THEN 1.0 ELSE 0.5 END) / 4.0, 4) AS quality,
         CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[\\x00-\\x1f\\x7f]', ' ', 'g'),
                                         '\\s+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
  FROM normed
),
kept AS (
  SELECT * FROM staged WHERE lang_pred <> 'und' AND quality >= 0.5
),
ranked AS (
  SELECT k.*, ROW_NUMBER() OVER (PARTITION BY text_norm ORDER BY doc_id) AS rn
  FROM kept k
),
deduped AS (
  SELECT * FROM ranked WHERE rn = 1
),
ev AS (
  SELECT DISTINCT gram FROM (
    SELECT unnest(list_distinct(list_transform(range(1, len(l) - 1),
                  i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS gram
    FROM (SELECT string_split_regex(trim(lower(text)), '\\s+') AS l
          FROM documents WHERE doc_id % 20 = 0)
  )
),
tr_grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(l) - 1),
                       i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS g
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS l FROM deduped)
),
contaminated AS (
  SELECT doc_id FROM (
    SELECT t.doc_id, t.n_grams,
           SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS matched
    FROM (SELECT doc_id, len(g) AS n_grams, unnest(g) AS gram FROM tr_grams) t
    LEFT JOIN ev e ON t.gram = e.gram
    GROUP BY t.doc_id, t.n_grams
  ) WHERE CAST(matched AS DOUBLE) >= 0.2 * n_grams
)
""" + (
        final
        or """
SELECT doc_id, lang_pred, quality, n_chars_norm
FROM deduped
WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
ORDER BY doc_id NULLS FIRST
"""
    )


_LM_SCORED_CTES = r"""

WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
  FROM documents
),
t2 AS (SELECT doc_id, l FROM toks WHERE len(l) >= 2),
pos AS (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM t2),
tf AS (
  SELECT doc_id, l[i] || ' ' || l[i+1] AS bigram, COUNT(*) AS tf
  FROM pos GROUP BY doc_id, bigram
),
cb AS (SELECT bigram, SUM(tf) AS c_bi FROM tf GROUP BY bigram),
ctx AS (
  SELECT split_part(bigram, ' ', 1) AS w1, SUM(c_bi) AS c_w1
  FROM cb GROUP BY split_part(bigram, ' ', 1)
),
v AS (
  SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS vs
  FROM (SELECT unnest(l) AS term FROM t2)
),
scored AS (
  SELECT tf.doc_id, tf.tf,
         -ln((CAST(cb.c_bi AS DOUBLE) + 1.0) / (CAST(ctx.c_w1 AS DOUBLE) + v.vs)) AS nll
  FROM tf
  JOIN cb USING (bigram)
  JOIN ctx ON split_part(tf.bigram, ' ', 1) = ctx.w1
  CROSS JOIN v
)
"""


ORACLES = {
    "ext_token_entropy": r"""
WITH tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        FROM documents) t
  GROUP BY doc_id, term
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
       ROUND(ln(SUM(tf)) - SUM(tf * ln(tf)) / SUM(tf), 4) AS entropy
FROM tf GROUP BY doc_id
ORDER BY doc_id NULLS FIRST
""",
    "ext_sample_exact_k": """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (
           PARTITION BY lang, source
           ORDER BY md5('s0|' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS rn
  FROM documents
) WHERE rn <= 5
ORDER BY lang NULLS FIRST, source NULLS FIRST, doc_id NULLS FIRST
""",
    "ext_curation_pipeline": _curation_sql(),
    "ext_pagerank": """
WITH edges AS (
  SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
c1 AS (
  SELECT e.dst AS id, SUM(r.rank / d.deg) AS c
  FROM edges e JOIN r0 r ON e.src = r.id JOIN outdeg d ON e.src = d.src
  GROUP BY e.dst
),
r1 AS (
  SELECT nd.id, 0.15 / (SELECT n FROM nn) + 0.85 * COALESCE(c1.c, 0) AS rank
  FROM nodes nd LEFT JOIN c1 ON nd.id = c1.id
),
c2 AS (
  SELECT e.dst AS id, SUM(r.rank / d.deg) AS c
  FROM edges e JOIN r1 r ON e.src = r.id JOIN outdeg d ON e.src = d.src
  GROUP BY e.dst
),
r2 AS (
  SELECT nd.id, 0.15 / (SELECT n FROM nn) + 0.85 * COALESCE(c2.c, 0) AS rank
  FROM nodes nd LEFT JOIN c2 ON nd.id = c2.id
)
SELECT id, ROUND(rank, 6) AS pagerank FROM r2
ORDER BY id NULLS FIRST
""",
    "ext_text_normalize": r"""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[\x00-\x1f\x7f]', ' ', 'g'),
                           '\s+', ' ', 'g')) AS text_norm,
       CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[\x00-\x1f\x7f]', ' ', 'g'),
                                       '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
FROM documents
ORDER BY doc_id NULLS FIRST
""",
    "ext_bm25_retrieval": r"""
WITH b2 AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS dl,
         string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents
),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM b2),
tf AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM b2) t
  WHERE term IN ('spark', 'query', 'merge')
  GROUP BY doc_id, dl, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term)
SELECT tf.doc_id,
       ROUND(SUM(ln(1.0 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))), 4) AS bm25,
       CAST(COUNT(*) AS BIGINT) AS n_matched_terms
FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
GROUP BY tf.doc_id
ORDER BY doc_id NULLS FIRST
""",
    "ext_stratified_sample": """
SELECT doc_id, lang, source
FROM documents
WHERE md5('s0|' || CAST(doc_id AS VARCHAR)) <
      CASE lang WHEN 'en' THEN '80000000'
                WHEN 'de' THEN '40000000'
                WHEN 'fr' THEN '40000000'
                WHEN 'es' THEN '19999999'
                WHEN 'zh' THEN '19999999'
                ELSE '00000000' END
ORDER BY doc_id NULLS FIRST
""",
    "ext_dataset_mixture": """
WITH m AS (
  SELECT doc_id, source,
         CASE WHEN source IN ('src0','src1') THEN 2 ELSE 0 END
         + CASE WHEN md5('s0|' || CAST(doc_id AS VARCHAR)) <
                CASE WHEN source IN ('src0','src1') THEN '80000000'
                     WHEN source IN ('src10','src11','src12','src13','src14',
                                     'src15','src16','src17','src18','src19')
                       THEN '80000000'
                     ELSE '40000000' END
                THEN 1 ELSE 0 END AS n_copies
  FROM documents
)
SELECT doc_id, source, CAST(n_copies AS INT) AS n_copies
FROM m WHERE n_copies > 0
ORDER BY doc_id NULLS FIRST
""",
    "ext_shard_assign": """
WITH h AS (
  SELECT doc_id, n_chars, md5('s0|' || CAST(doc_id AS VARCHAR)) AS m
  FROM documents
),
s AS (
  SELECT doc_id, n_chars,
         ((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        + (instr('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        + (instr('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        + (instr('0123456789abcdef', substr(m, 4, 1)) - 1)) % 16 AS shard_id
  FROM h
)
SELECT CAST(shard_id AS INT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY shard_id
ORDER BY shard_id NULLS FIRST
""",
    # greedy first-fit packing unrolled: the md5 shard fold + key order
    # pin the scan order, then ONE recursive step per within-shard rank
    # advances every shard's (pack_id, running tokens) bin state in
    # parallel — same discipline as the BPE merge-round unroll
    "ext_pack_sequences": r"""
WITH RECURSIVE meta AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tokens,
         md5('s0|' || CAST(doc_id AS VARCHAR)) AS m
  FROM documents
),
sharded AS (
  SELECT doc_id, tokens, m,
         ((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        + (instr('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        + (instr('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        + (instr('0123456789abcdef', substr(m, 4, 1)) - 1)) % 8 AS shard_id
  FROM meta
),
ordered AS (
  SELECT doc_id, tokens, shard_id,
         ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY m ASC) AS rn
  FROM sharded
),
rec AS (
  SELECT shard_id, rn, tokens, CAST(0 AS BIGINT) AS pack_id, tokens AS cum
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard_id, o.rn, o.tokens,
         CASE WHEN r.cum + o.tokens > 256 THEN r.pack_id + 1
              ELSE r.pack_id END AS pack_id,
         CASE WHEN r.cum + o.tokens > 256 THEN o.tokens
              ELSE r.cum + o.tokens END AS cum
  FROM rec r JOIN ordered o
    ON o.shard_id = r.shard_id AND o.rn = r.rn + 1
)
SELECT CAST(shard_id AS INT) AS shard_id,
       CAST(pack_id AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tokens) AS BIGINT) AS pack_tokens
FROM rec GROUP BY shard_id, pack_id
ORDER BY shard_id NULLS FIRST, pack_id NULLS FIRST
""",
    "ext_pii_redact": """
WITH oid AS (
  SELECT c_custkey,
         lpad(CAST(((c_custkey % 1000000000000) * 31 + 11)
                   % 10000000000000000 AS VARCHAR), 16, '0') AS o
  FROM customer
),
c AS (
  SELECT c.c_custkey,
         'call (' || lpad(CAST(c.c_custkey % 800 + 200 AS VARCHAR), 3, '0')
         || ') ' || lpad(CAST(c.c_custkey % 1000 AS VARCHAR), 3, '0')
         || '-' || lpad(CAST((c.c_custkey * 7919) % 10000 AS VARCHAR), 4, '0')
         || ' or mail ' || lower(replace(c.c_name, '#', '.'))
         || '@example.com card '
         || CASE CAST(c.c_custkey % 3 AS INT)
              WHEN 1 THEN '4539 1488 0343 6467'
              WHEN 2 THEN '4539-1488-0343-6467'
              ELSE '4539148803436467' END
         || ' order ' || substr(o.o, 1, 4) || '-' || substr(o.o, 5, 4)
         || '-' || substr(o.o, 9, 4) || '-' || substr(o.o, 13, 4)
         AS note
  FROM customer c JOIN oid o ON c.c_custkey = o.c_custkey
),
carded AS (
  -- mirrors mask_luhn_cards: union candidates (>=2-digit-group runs at
  -- 13-19 stripped digits + contiguous 13-19), distinct + SORTED (the
  -- fold applies candidates in list order — must match array_sort), Luhn
  -- filter, then a DOUBLE digit-boundary-anchored regexp_replace per
  -- survivor (double: the consuming global scan alternate-misses
  -- adjacent occurrences on one pass; Spark uses a lookahead single
  -- pass — same fixpoint)
  SELECT c_custkey, note,
         list_reduce(
           [note] || list_filter(
             list_sort(list_distinct(
               list_filter(
                 regexp_extract_all(note, '\\b\\d{2,}(?:[ -]\\d{2,})*\\b'),
                 c -> len(replace(replace(c, ' ', ''), '-', ''))
                      BETWEEN 13 AND 19)
               || list_filter(regexp_extract_all(note, '\\d+'),
                              c -> len(c) BETWEEN 13 AND 19)
               || flatten(list_transform(
                    list_filter(
                      regexp_extract_all(note, '\\b\\d{2,}(?:[ -]\\d{2,})*\\b'),
                      c -> len(replace(replace(c, ' ', ''), '-', '')) > 19),
                    r -> list_filter(
                      flatten(list_transform(
                        range(1, len(string_split_regex(r, '[ -]')) + 1), i ->
                        list_transform(
                          range(i, least(i + 8,
                                 len(string_split_regex(r, '[ -]'))) + 1),
                          j -> array_to_string(
                                 string_split_regex(r, '[ -]')[i:j], ' ')))),
                      w -> len(replace(w, ' ', '')) BETWEEN 13 AND 19))))),
             cand -> list_sum(list_transform(
               range(1, len(replace(replace(cand, ' ', ''), '-', '')) + 1),
               i -> CASE WHEN i % 2 = 0
                 THEN CASE WHEN 2 * CAST(substring(reverse(replace(replace(
                               cand, ' ', ''), '-', '')), i, 1) AS INT) > 9
                           THEN 2 * CAST(substring(reverse(replace(replace(
                               cand, ' ', ''), '-', '')), i, 1) AS INT) - 9
                           ELSE 2 * CAST(substring(reverse(replace(replace(
                               cand, ' ', ''), '-', '')), i, 1) AS INT) END
                 ELSE CAST(substring(reverse(replace(replace(
                     cand, ' ', ''), '-', '')), i, 1) AS INT) END)) % 10 = 0),
           (acc, x) -> regexp_replace(
             regexp_replace(acc,
               '(^|[^0-9])' || regexp_replace(x, '[ -]', '[ -]', 'g')
                 || '([^0-9]|$)',
               '\\1[CARD]\\2', 'g'),
             '(^|[^0-9])' || regexp_replace(x, '[ -]', '[ -]', 'g')
               || '([^0-9]|$)',
             '\\1[CARD]\\2', 'g')) AS masked
  FROM c
)
SELECT c_custkey, note,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(masked,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g'),
           '(?:\\+?\\d{1,3}[-. ])?(?:\\(\\d{3}\\) ?|\\b\\d{3}[-. ])\\d{3}[-. ]\\d{4}\\b',
           '[PHONE]', 'g'),
         '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '[IP]', 'g') AS note_redacted
FROM carded
ORDER BY c_custkey NULLS FIRST
""",
    "ext_topk_per_key": """
SELECT event_type, CAST(rn AS INT) AS rn, event_id, ROUND(value, 2) AS value_r
FROM (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rn
  FROM events
) t WHERE rn <= 3
ORDER BY event_type NULLS FIRST, rn NULLS FIRST
""",
    "ext_count_distinct_salted": """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
ORDER BY event_type NULLS FIRST
""",
    "ext_stream_session_windows": """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              OR ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
ORDER BY user_id NULLS FIRST, session_start NULLS FIRST
""",
    "ext_asof_join": """
WITH purch AS (
  SELECT user_id, ts, MAX(event_id) AS purchase_id
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
       (SELECT MAX(p.ts) FROM purch p
        WHERE p.user_id = c.user_id AND p.ts <= c.ts) AS last_purchase_ts,
       (SELECT p.purchase_id FROM purch p
        WHERE p.user_id = c.user_id AND p.ts <= c.ts
        ORDER BY p.ts DESC LIMIT 1) AS purchase_id
FROM events c WHERE c.event_type = 'click'
ORDER BY c.event_id NULLS FIRST
""",
    "ext_range_join": """
WITH purch AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_start,
         ts + INTERVAL 1 HOUR AS p_end
  FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id,
       (SELECT COUNT(*) FROM events c
        WHERE c.event_type = 'click' AND c.user_id = p.user_id
          AND c.ts >= p.p_start AND c.ts < p.p_end) AS clicks_within_1h
FROM purch p ORDER BY p.purchase_id NULLS FIRST
""",
    "ext_dedup_exact": """
SELECT doc_id, lang, source FROM (
  SELECT d.*, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM documents d
) t WHERE rn = 1 ORDER BY doc_id NULLS FIRST
""",
    "ext_fingerprint": r"""
SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
FROM documents ORDER BY doc_id NULLS FIRST
""",
    "ext_temperature_mixture": """
WITH cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
tot AS (SELECT SUM(n) AS n_total, SUM(POW(n, 0.5)) AS z FROM cnt)
SELECT c.source, CAST(c.n AS BIGINT) AS n_docs,
       ROUND(POW(c.n, 0.5) / t.z * t.n_total / c.n, 4) AS weight,
       ROUND(POW(c.n, 0.5) / t.z * t.n_total / c.n * c.n, 2) AS expected_docs
FROM cnt c, tot t
ORDER BY c.source NULLS FIRST
""",
    "ext_bucketed_join": """
SELECT o_orderpriority,
       ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority NULLS FIRST
""",
    "ext_incremental_exact_dedup": r"""
WITH fp AS (
  SELECT doc_id, lang, source,
         md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS f
  FROM documents
),
idx AS (SELECT DISTINCT f FROM fp WHERE doc_id % 5 != 0),
batch AS (
  SELECT doc_id, lang, source, f,
         ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
  FROM fp WHERE doc_id % 5 = 0
)
SELECT doc_id, lang, source FROM batch
WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM idx WHERE idx.f = batch.f)
ORDER BY doc_id NULLS FIRST
""",
    "ext_dup_passages": r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(l) - 18),
                i -> array_to_string(l[i:i+19], ' ')))) AS passage
  FROM toks
)
SELECT passage, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       MIN(doc_id) AS sample_doc_id
FROM grams GROUP BY passage HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY passage NULLS FIRST
""",
    "ext_dedup_clusters": f"""
WITH RECURSIVE {_TRIGRAMS_CTE},
counts AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN counts ca ON ca.doc_id = id_a
  JOIN counts cb ON cb.doc_id = id_b
  WHERE inter / (ca.n_grams + cb.n_grams - inter) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src AS id, dst AS peer FROM edges
  UNION
  SELECT r.id, e.dst AS peer FROM reach r JOIN edges e ON r.peer = e.src
),
comp AS (SELECT id, least(id, MIN(peer)) AS component FROM reach GROUP BY id)
SELECT d.doc_id,
       COALESCE(c.component, d.doc_id) AS cluster_id,
       (COALESCE(c.component, d.doc_id) = d.doc_id) AS is_representative
FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
ORDER BY d.doc_id NULLS FIRST
""",
    "ext_cluster_best_keep": f"""
WITH RECURSIVE {_TRIGRAMS_CTE},
counts AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN counts ca ON ca.doc_id = id_a
  JOIN counts cb ON cb.doc_id = id_b
  WHERE inter / (ca.n_grams + cb.n_grams - inter) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src AS id, dst AS peer FROM edges
  UNION
  SELECT r.id, e.dst AS peer FROM reach r JOIN edges e ON r.peer = e.src
),
comp AS (SELECT id, least(id, MIN(peer)) AS component FROM reach GROUP BY id),
cl AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
),
q AS ({_QUALITY_CTE_SQL}),
ranked AS (
  SELECT cl.doc_id, cl.cluster_id, q.quality,
         ROW_NUMBER() OVER (
           PARTITION BY cl.cluster_id ORDER BY q.quality DESC, cl.doc_id ASC
         ) AS rk
  FROM cl JOIN q ON q.doc_id = cl.doc_id
)
SELECT doc_id, cluster_id, quality, (rk = 1) AS is_representative
FROM ranked ORDER BY doc_id NULLS FIRST
""",
    "ext_leakage_safe_split": f"""
WITH RECURSIVE {_TRIGRAMS_CTE},
counts AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN counts ca ON ca.doc_id = id_a
  JOIN counts cb ON cb.doc_id = id_b
  WHERE inter / (ca.n_grams + cb.n_grams - inter) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src AS id, dst AS peer FROM edges
  UNION
  SELECT r.id, e.dst AS peer FROM reach r JOIN edges e ON r.peer = e.src
),
comp AS (SELECT id, least(id, MIN(peer)) AS component FROM reach GROUP BY id),
cl AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
)
SELECT doc_id, cluster_id,
       CASE WHEN md5('s0|' || CAST(cluster_id AS VARCHAR)) < 'cccccccc'
              THEN 'train'
            WHEN md5('s0|' || CAST(cluster_id AS VARCHAR)) < 'e6666666'
              THEN 'val'
            ELSE 'test' END AS split
FROM cl
ORDER BY doc_id NULLS FIRST
""",
    "ext_cross_source_dedup": f"""
WITH RECURSIVE {_TRIGRAMS_CTE},
counts AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN counts ca ON ca.doc_id = id_a
  JOIN counts cb ON cb.doc_id = id_b
  WHERE inter / (ca.n_grams + cb.n_grams - inter) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src AS id, dst AS peer FROM edges
  UNION
  SELECT r.id, e.dst AS peer FROM reach r JOIN edges e ON r.peer = e.src
),
comp AS (SELECT id, least(id, MIN(peer)) AS component FROM reach GROUP BY id),
pr AS (
  SELECT d.doc_id, d.doc_id % 3 AS priority,
         COALESCE(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
),
elected AS (
  SELECT doc_id, priority, cluster_id,
         FIRST_VALUE(doc_id) OVER (
           PARTITION BY cluster_id ORDER BY priority, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         ) AS kept_by
  FROM pr
)
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'wiki' WHEN 1 THEN 'books'
            ELSE 'web' END AS source,
       cluster_id, kept_by, (doc_id = kept_by) AS is_kept
FROM elected
ORDER BY doc_id NULLS FIRST
""",
    "ext_ngram_jaccard": f"""
WITH {_TRIGRAMS_CTE},
counts AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(inter / (ca.n_grams + cb.n_grams - inter), 4) AS jaccard
FROM inter
JOIN counts ca ON ca.doc_id = id_a
JOIN counts cb ON cb.doc_id = id_b
WHERE inter / (ca.n_grams + cb.n_grams - inter) >= 0.5
ORDER BY id_a NULLS FIRST, id_b NULLS FIRST
""",
    "ext_cosine_topk": """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.e, c.e) /
         (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)) + 1e-12) AS cs
  FROM v q JOIN v c ON q.vec_id < 5 AND c.vec_id != q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cs,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, ROUND(cs, 4) + 0.0 AS cos_sim, rank
FROM ranked WHERE rank <= 3
ORDER BY query_id NULLS FIRST, rank NULLS FIRST
""",
    "ext_hard_negatives": """
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
sims AS (
  SELECT q.vec_id AS query_id, q.label AS query_label,
         c.vec_id AS neighbor_id, c.label AS neighbor_label,
         list_dot_product(q.e, c.e) /
         (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)) + 1e-12) AS cs
  FROM v q JOIN v c ON q.vec_id < 5 AND c.label != q.label
),
ranked AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label, cs,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) AS rank
  FROM sims
)
SELECT query_id, query_label, neighbor_id, neighbor_label,
       ROUND(cs, 4) + 0.0 AS cos_sim, rank
FROM ranked WHERE rank <= 3
ORDER BY query_id NULLS FIRST, rank NULLS FIRST
""",
    "ext_embedding_quantize": """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
),
s AS (
  SELECT vec_id, e,
         greatest(list_max(list_transform(e, x -> abs(x))), 1e-12) / 127.0 AS scale
  FROM v
)
SELECT vec_id, ROUND(scale, 6) AS scale,
       array_to_string(list_transform(e, x -> CAST(floor(x / scale + 0.5) AS TINYINT)), ',') AS q
FROM s ORDER BY vec_id NULLS FIRST
""",
    "ext_token_stats": r"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                t -> regexp_full_match(t, '[A-Za-z]+'))) AS BIGINT) AS n_alpha_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_obs
FROM documents ORDER BY doc_id NULLS FIRST
""",
    "ext_lang_id": _lang_id_sql(),
    "ext_lang_id_eval": _lang_id_eval_sql(),
    "ext_quality_top_fraction": (
        "WITH q AS (" + _quality_sql() + """),
ranked AS (
  SELECT doc_id, quality,
         PERCENT_RANK() OVER (ORDER BY quality DESC, doc_id ASC) AS pr
  FROM q
)
SELECT doc_id, quality, ROUND(pr, 4) AS pr
FROM ranked WHERE pr <= 0.2
ORDER BY doc_id NULLS FIRST
"""
    ),
    "ext_corpus_profile": r"""
WITH base AS (
  SELECT lang, source, length(text) AS nc,
         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS nt
  FROM documents
)
SELECT COALESCE(lang, 'ALL') AS lang_g,
       COALESCE(source, 'ALL') AS source_g,
       COUNT(*) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS total_tokens,
       ROUND(AVG(nc), 4) AS avg_chars
FROM base
GROUP BY ROLLUP (lang, source)
ORDER BY lang_g NULLS FIRST, source_g NULLS FIRST
""",
    "ext_quality_score": _quality_sql(),
    "ext_repetition_quality": r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
base AS (
  SELECT doc_id,
         CASE WHEN len(l) >= 3 THEN list_transform(range(1, len(l) - 1),
              i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) ELSE [] END AS tri,
         CASE WHEN len(l) >= 2 THEN list_transform(range(1, len(l)),
              i -> l[i] || ' ' || l[i+1]) ELSE [] END AS bi
  FROM toks
),
bg AS (
  SELECT doc_id, CAST(len(tri) AS BIGINT) AS n_tri,
         CAST(len(list_distinct(tri)) AS BIGINT) AS n_tri_d,
         unnest(bi) AS gram
  FROM base
),
pg AS (
  SELECT doc_id, n_tri, n_tri_d, gram, COUNT(*) AS c
  FROM bg GROUP BY doc_id, n_tri, n_tri_d, gram
),
agg AS (
  SELECT doc_id, n_tri, n_tri_d, MAX(c) AS top_c, SUM(c) AS n_bi
  FROM pg GROUP BY doc_id, n_tri, n_tri_d
)
SELECT doc_id,
       CAST(n_bi AS BIGINT) AS n_bigrams,
       CAST(top_c AS BIGINT) AS top_bigram_count,
       ROUND(CAST(top_c AS DOUBLE) / n_bi, 4) AS top_bigram_frac,
       ROUND(1.0 - CAST(n_tri_d AS DOUBLE) / n_tri, 4) AS dup_trigram_frac,
       (CAST(top_c AS DOUBLE) / n_bi >= 0.18
        OR 1.0 - CAST(n_tri_d AS DOUBLE) / n_tri >= 0.3) AS is_repetitive
FROM agg ORDER BY doc_id NULLS FIRST
""",
    "ext_decontaminate": f"""
WITH {_TRIGRAMS_CTE},
ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0),
tr AS (SELECT doc_id, gram FROM grams WHERE doc_id % 20 <> 0),
agg AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS matched
  FROM tr t LEFT JOIN ev e ON t.gram = e.gram
  GROUP BY t.doc_id
)
SELECT doc_id, n_grams, matched,
       ROUND(CAST(matched AS DOUBLE) / n_grams, 4) AS overlap,
       (CAST(matched AS DOUBLE) / n_grams >= 0.2) AS contaminated
FROM agg ORDER BY doc_id NULLS FIRST
""",
    "ext_vocab_encode": r"""
WITH terms AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
counts AS (
  SELECT term, COUNT(*) AS cnt FROM terms GROUP BY term HAVING COUNT(*) >= 2
),
vocab AS (
  SELECT term, ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS term_id
  FROM counts
),
toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
pos AS (
  SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS p FROM toks
),
ids AS (
  SELECT pos.doc_id, pos.p, COALESCE(v.term_id, 0) AS tid
  FROM pos LEFT JOIN vocab v ON pos.l[p] = v.term
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       array_to_string(list(tid ORDER BY p), ',') AS token_ids
FROM ids GROUP BY doc_id
ORDER BY doc_id NULLS FIRST
""",
    "ext_chunk_documents": r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents
),
c AS (
  SELECT doc_id, l,
         unnest(range(0, 1 + CAST(ceil(greatest(len(l) - 64, 0) / 48.0) AS INT))) AS chunk_id
  FROM toks
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(len(l[chunk_id*48 + 1 : chunk_id*48 + 64]) AS BIGINT) AS n_chunk_tokens,
       array_to_string(l[chunk_id*48 + 1 : chunk_id*48 + 64], ' ') AS chunk_text
FROM c ORDER BY doc_id NULLS FIRST, chunk_id NULLS FIRST
""",
    "ext_tfidf_top_terms": r"""
WITH terms AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         CAST(tf.tf AS DOUBLE) * ln((n.nd + 1.0) / (CAST(dfreq.df AS DOUBLE) + 1.0)) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, df, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INT) AS rank, term, CAST(tf AS BIGINT) AS tf,
       CAST(df AS BIGINT) AS df, ROUND(tfidf, 4) AS tfidf
FROM ranked WHERE rank <= 3
ORDER BY doc_id NULLS FIRST, rank NULLS FIRST
""",
    "ext_length_histogram": """
WITH b AS (
  SELECT source, CAST(floor(n_chars / 50.0) AS BIGINT) AS bucket FROM documents
),
c AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY source, bucket)
SELECT source, bucket, n,
       ROUND(CAST(SUM(n) OVER (PARTITION BY source ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / SUM(n) OVER (PARTITION BY source), 4) AS cdf
FROM c ORDER BY source NULLS FIRST, bucket NULLS FIRST
""",
    "ext_stream_tumbling_daily": """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY CAST(date_trunc('day', ts) AS DATE), event_type
ORDER BY day NULLS FIRST, event_type NULLS FIRST
""",
    "ext_stream_sliding_halfhour": """
WITH w AS (
  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - (i * INTERVAL 30 MINUTE) AS window_start
  FROM events CROSS JOIN unnest([0, 1]) AS t(i)
)
SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n
FROM w GROUP BY window_start
ORDER BY window_start NULLS FIRST
""",
    "ext_stream_stateful_totals": """
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY user_id
ORDER BY user_id NULLS FIRST
""",
    "ext_stream_dedup": """
SELECT event_id, user_id, event_type, value
FROM events
ORDER BY event_id NULLS FIRST
""",
    "ext_stream_click_attribution": """
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
FROM events p JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.user_id = p.user_id
 AND c.ts <= p.ts AND p.ts < c.ts + INTERVAL 1 HOUR
ORDER BY purchase_id NULLS FIRST, click_id NULLS FIRST
""",
    "ext_dup_spans": r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
pos AS (SELECT doc_id, unnest(range(1, len(l) - 18)) AS i, l FROM toks WHERE len(l) >= 20),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS start_tok, array_to_string(l[i:i+19], ' ') AS gram
  FROM pos
),
dup AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
hits AS (SELECT g.doc_id, g.start_tok FROM grams g JOIN dup USING (gram)),
marked AS (
  SELECT doc_id, start_tok,
         CASE WHEN lag(start_tok) OVER w IS NULL
                OR start_tok > lag(start_tok) OVER w + 20 THEN 1 ELSE 0 END AS new_grp
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY start_tok)
),
grps AS (
  SELECT doc_id, start_tok,
         SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY start_tok
                            ROWS UNBOUNDED PRECEDING) AS grp
  FROM marked
)
SELECT doc_id, MIN(start_tok) AS span_start, MAX(start_tok) + 20 AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_shingles
FROM grps GROUP BY doc_id, grp
ORDER BY doc_id NULLS FIRST, span_start NULLS FIRST
""",
    "ext_remove_dup_passages": r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
pos AS (SELECT doc_id, unnest(range(1, len(l) - 18)) AS i, l FROM toks WHERE len(l) >= 20),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS start_tok, array_to_string(l[i:i+19], ' ') AS gram
  FROM pos
),
dup AS (
  SELECT gram, MIN(doc_id) AS canonical_doc
  FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT g.doc_id, g.start_tok FROM grams g JOIN dup d USING (gram)
  WHERE g.doc_id <> d.canonical_doc
),
marked AS (
  SELECT doc_id, start_tok,
         CASE WHEN lag(start_tok) OVER w IS NULL
                OR start_tok > lag(start_tok) OVER w + 20 THEN 1 ELSE 0 END AS new_grp
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY start_tok)
),
grps AS (
  SELECT doc_id, start_tok,
         SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY start_tok
                            ROWS UNBOUNDED PRECEDING) AS grp
  FROM marked
),
spans AS (
  SELECT doc_id, MIN(start_tok) AS s, MAX(start_tok) + 20 AS e
  FROM grps GROUP BY doc_id, grp
),
cov AS (SELECT DISTINCT doc_id, unnest(range(s, e)) AS idx FROM spans),
tokpos AS (
  SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS idx FROM toks
),
kept AS (
  SELECT t.doc_id, t.idx, t.term
  FROM tokpos t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.idx = t.idx
  WHERE c.idx IS NULL
),
agg AS (
  SELECT doc_id, string_agg(term, ' ' ORDER BY idx) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
),
orig AS (SELECT doc_id, COALESCE(len(l), 0) AS n FROM toks)
SELECT o.doc_id,
       COALESCE(a.clean_text, '') AS clean_text,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_kept,
       CAST(o.n - COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_removed
FROM orig o LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id NULLS FIRST
""",
    "ext_lm_perplexity": _LM_SCORED_CTES + r"""
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       ROUND(SUM(tf * nll) / SUM(tf), 4) + 0.0 AS avg_nll,
       ROUND(exp(SUM(tf * nll) / SUM(tf)), 4) AS ppl
FROM scored GROUP BY doc_id
ORDER BY doc_id NULLS FIRST
""",
    "ext_ccnet_buckets": _LM_SCORED_CTES + r""",
ppl AS (
  SELECT doc_id, ROUND(exp(SUM(tf * nll) / SUM(tf)), 4) AS ppl
  FROM scored GROUP BY doc_id
),
ranked AS (
  SELECT p.doc_id, d.lang, p.ppl,
         NTILE(3) OVER (PARTITION BY d.lang ORDER BY p.ppl ASC, p.doc_id ASC) AS tercile
  FROM ppl p JOIN documents d ON d.doc_id = p.doc_id
)
SELECT doc_id, lang, ppl, CAST(tercile AS BIGINT) AS tercile,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM ranked ORDER BY doc_id NULLS FIRST
""",
    "ext_domain_quality_filter": r"""
WITH feat AS (
  SELECT doc_id, source,
         length(text) AS n_chars,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS punct_chars,
         CAST(CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5 AS INT) + CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' a ', ''))) / 3 AS INT) + CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ''))) / 5 AS INT) + CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' of ', ''))) / 4 AS INT) AS BIGINT) AS stopword_hits
  FROM documents
),
scored AS (
  SELECT doc_id, source,
         ROUND((LEAST(n_chars / 500.0, 1.0)
              + (1.0 - LEAST(punct_chars / GREATEST(n_chars, 1) * 10.0, 1.0))
              + LEAST(stopword_hits / GREATEST(n_tokens, 1) * 5.0, 1.0)
              + CASE WHEN (n_chars - (n_tokens - 1)) / GREATEST(n_tokens, 1) >= 3
                      AND (n_chars - (n_tokens - 1)) / GREATEST(n_tokens, 1) <= 10
                     THEN 1.0 ELSE 0.5 END) / 4.0, 4) AS quality
  FROM feat
),
dom AS (
  SELECT source, ROUND(AVG(quality), 4) AS avg_quality
  FROM scored GROUP BY source
),
ranked AS (
  SELECT source, avg_quality,
         ROW_NUMBER() OVER (ORDER BY avg_quality DESC, source ASC) AS domain_rank
  FROM dom
)
SELECT d.doc_id, d.source, CAST(r.domain_rank AS INT) AS domain_rank, r.avg_quality
FROM documents d JOIN ranked r USING (source)
WHERE r.domain_rank <= 10
ORDER BY doc_id NULLS FIRST
""",
    "ext_embedding_neardup": """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
sims AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.e, b.e) /
         (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)) + 1e-12) AS cs
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cs, 4) + 0.0 AS cos_sim
FROM sims WHERE cs >= 0.4
ORDER BY id_a NULLS FIRST, id_b NULLS FIRST
""",
}

# block-GEMM twin computes the identical result set

def _planes_sql_literal(num_planes: int, dims: int, seed: int = 42) -> str:
    """The SAME deterministic hyperplane matrix operators/similarity.py
    ships as data (random.Random(seed).gauss), rendered as a DuckDB nested
    list literal with round-trippable float repr — which is what lets the
    hyperplane-LSH family be oracle-checked: the band keys are hashes of
    sign slices, so bucketing is equality-of-slices on both engines, and
    the sign folds use the identical FP summation order (Spark aggregate
    left-fold == DuckDB list_reduce left-fold; 0.0+x is exact)."""
    import random

    rng = random.Random(seed)
    planes = [
        [rng.gauss(0.0, 1.0) for _ in range(dims)] for _ in range(num_planes)
    ]
    return (
        "["
        + ", ".join(
            "[" + ", ".join(repr(x) for x in p) + "]" for p in planes
        )
        + "]"
    )


_LSH_SIG_CTES = """
v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
sig AS (
  SELECT vec_id, label, e,
         list_transform({planes}, p ->
           CASE WHEN list_reduce(
                  list_transform(range(1, {dims_plus}), i -> e[i] * p[i]),
                  (a, b) -> a + b) >= 0
                THEN 1 ELSE 0 END) AS s
  FROM v
),
banded AS (
  SELECT vec_id, label, e, i AS band_idx,
         array_to_string(s[i*{width}+1 : i*{width}+{width}], ',') AS band_key
  FROM sig, range(0, {bands}) t(i)
)
""".format(
    planes=_planes_sql_literal(64, 64),
    dims_plus=65,
    width=4,
    bands=16,
)

ORACLES["ext_embedding_neardup_lsh"] = (
    "WITH "
    + _LSH_SIG_CTES
    + """,
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.e AS ea, b.e AS eb
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.vec_id < b.vec_id
),
sims AS (
  SELECT id_a, id_b,
         list_dot_product(ea, eb) /
         (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb)) + 1e-12) AS cs
  FROM cand
)
SELECT id_a, id_b, ROUND(cs, 4) + 0.0 AS cos_sim
FROM sims WHERE cs >= 0.4
ORDER BY id_a NULLS FIRST, id_b NULLS FIRST
"""
)

ORACLES["ext_ann_lsh_topk"] = (
    "WITH "
    + _LSH_SIG_CTES
    + """,
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         q.e AS qe, c.e AS ce
  FROM banded q JOIN banded c
    ON q.band_idx = c.band_idx AND q.band_key = c.band_key
   AND q.vec_id != c.vec_id
  WHERE q.vec_id < 5
),
sims AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qe, ce) /
         (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce)) + 1e-12) AS cs
  FROM cand
),
ranked AS (
  SELECT query_id, neighbor_id, cs,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cs DESC, neighbor_id ASC) AS rk
  FROM sims
)
SELECT query_id, neighbor_id, ROUND(cs, 4) + 0.0 AS cos_sim, CAST(rk AS BIGINT) AS rank
FROM ranked WHERE rk <= 3
ORDER BY query_id NULLS FIRST, rank NULLS FIRST
"""
)

ORACLES["ext_hard_negatives_lsh"] = (
    "WITH "
    + _LSH_SIG_CTES
    + """,
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, q.label AS query_label,
         c.vec_id AS neighbor_id, c.label AS neighbor_label,
         q.e AS qe, c.e AS ce
  FROM banded q JOIN banded c
    ON q.band_idx = c.band_idx AND q.band_key = c.band_key
   AND q.vec_id != c.vec_id
  WHERE q.vec_id < 5 AND q.label != c.label
),
sims AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label,
         list_dot_product(qe, ce) /
         (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce)) + 1e-12) AS cs
  FROM cand
),
ranked AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label, cs,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cs DESC, neighbor_id ASC) AS rk
  FROM sims
)
SELECT query_id, query_label, neighbor_id, neighbor_label,
       ROUND(cs, 4) + 0.0 AS cos_sim, CAST(rk AS BIGINT) AS rank
FROM ranked WHERE rk <= 3
ORDER BY query_id NULLS FIRST, rank NULLS FIRST
"""
)

ORACLES["ext_minhash_neardup_md5"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(l) - 1),
                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS grams
  FROM toks
),
sig AS (
  SELECT doc_id,
         list_transform(range(0, 16),
           i -> list_min(list_transform(grams,
                  s -> substring(md5((i // 5) || '|' || s), (i % 5) * 6 + 1, 6)))) AS mh
  FROM sh WHERE len(grams) > 0
),
banded_all AS (
  SELECT doc_id, mh, i AS band_idx,
         md5(array_to_string(mh[i*2+1 : i*2+2], '|')) AS band_hash
  FROM sig, range(0, 8) t(i)
),
banded AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash
                                 ORDER BY doc_id) AS bn
    FROM banded_all
  ) WHERE bn <= 1000
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.mh AS mh_a, b.mh AS mh_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
est AS (
  SELECT id_a, id_b,
         list_sum(list_transform(range(1, 17),
           i -> CASE WHEN mh_a[i] = mh_b[i] THEN 1 ELSE 0 END)) / 16.0 AS je
  FROM pairs
)
SELECT id_a, id_b, ROUND(je, 4) AS jaccard_est
FROM est WHERE je >= 0.5
ORDER BY id_a NULLS FIRST, id_b NULLS FIRST
"""

ORACLES["ext_incremental_neardup"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(l) - 1),
                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS grams
  FROM toks
),
sig AS (
  SELECT doc_id,
         list_transform(range(0, 16),
           i -> list_min(list_transform(grams,
                  s -> substring(md5((i // 5) || '|' || s), (i % 5) * 6 + 1, 6)))) AS mh
  FROM sh WHERE len(grams) > 0
),
corpus_banded_all AS (
  SELECT doc_id, mh, i AS band_idx,
         md5(array_to_string(mh[i*2+1 : i*2+2], '|')) AS band_hash
  FROM sig, range(0, 8) t(i)
  WHERE doc_id % 5 <> 0
),
corpus_banded AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash
                                 ORDER BY doc_id) AS bn
    FROM corpus_banded_all
  ) WHERE bn <= 1000
),
batch_banded AS (
  SELECT doc_id, mh, i AS band_idx,
         md5(array_to_string(mh[i*2+1 : i*2+2], '|')) AS band_hash
  FROM sig, range(0, 8) t(i)
  WHERE doc_id % 5 = 0
),
pairs AS (
  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS dup_of,
         n.mh AS mh_n, c.mh AS mh_c
  FROM batch_banded n JOIN corpus_banded c
    ON n.band_idx = c.band_idx AND n.band_hash = c.band_hash
),
est AS (
  SELECT new_id, dup_of,
         list_sum(list_transform(range(1, 17),
           i -> CASE WHEN mh_n[i] = mh_c[i] THEN 1 ELSE 0 END)) / 16.0 AS je
  FROM pairs
)
SELECT new_id, dup_of, ROUND(je, 4) AS jaccard_est
FROM est WHERE je >= 0.5
ORDER BY new_id NULLS FIRST, dup_of NULLS FIRST
"""

# The drained stream must emit exactly the batch probe's relation — the
# same batch-twin gating discipline as the events streaming family.
ORACLES["ext_stream_incremental_neardup"] = ORACLES["ext_incremental_neardup"]

ORACLES["ext_simhash_neardup_md5"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
hashed AS (
  SELECT doc_id,
         list_transform(l, t -> md5('0|' || t)) AS h0,
         list_transform(l, t -> md5('1|' || t)) AS h1
  FROM toks
),
bits AS (
  SELECT doc_id,
         list_transform(range(0, 64), j ->
           CASE WHEN list_sum(list_transform(
                  CASE WHEN j < 32 THEN h0 ELSE h1 END, h ->
                  CASE WHEN substr(h, (j % 32) + 1, 1) >= '8'
                       THEN 1 ELSE -1 END)) > 0
                THEN 1 ELSE 0 END) AS b
  FROM hashed
),
fp AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(0, 63), j ->
                CASE WHEN b[j + 1] = 1 THEN (CAST(1 AS BIGINT) << j)
                     ELSE CAST(0 AS BIGINT) END))
              - CASE WHEN b[64] = 1 THEN CAST(9223372036854775808 AS HUGEINT)
                     ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS h
  FROM bits
),
banded_all AS (
  SELECT doc_id, h, i AS cidx, (h >> (i * 16)) & 65535 AS cval
  FROM fp, range(0, 4) t(i)
),
banded_n AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY cidx, cval
                               ORDER BY doc_id) AS bn
  FROM banded_all
),
banded AS (SELECT * FROM banded_n WHERE bn <= 1000),
-- overflow rows (bn > cap) pair with the bucket representative (min id)
-- only, mirroring hash64_candidate_pairs' cap semantics
reps AS (SELECT cidx, cval, doc_id AS rid, h AS rh FROM banded_n WHERE bn = 1),
pairs AS (
  SELECT DISTINCT id_a, id_b, h_a, h_b FROM (
    SELECT a.doc_id AS id_a, p.doc_id AS id_b, a.h AS h_a, p.h AS h_b
    FROM banded a JOIN banded p
      ON a.cidx = p.cidx AND a.cval = p.cval AND a.doc_id < p.doc_id
    UNION ALL
    SELECT r.rid, o.doc_id, r.rh, o.h
    FROM banded_n o JOIN reps r ON o.cidx = r.cidx AND o.cval = r.cval
    WHERE o.bn > 1000
  )
),
ham AS (
  SELECT id_a, id_b,
         CAST(bit_count(xor(h_a, h_b)) AS INT) AS hamming
  FROM pairs
)
SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
ORDER BY id_a NULLS FIRST, id_b NULLS FIRST
"""

ORACLES["ext_json_props"] = """
WITH parsed AS (
  SELECT event_type,
         CASE WHEN props IS NOT NULL AND props LIKE '{%'
              THEN CAST(json_extract_string(props, '$.k') AS INT)
              ELSE NULL END AS k
  FROM events
)
SELECT event_type, COUNT(*) AS n, COUNT(k) AS n_with_k,
       ROUND(AVG(k), 4) AS avg_k, MAX(k) AS max_k
FROM parsed GROUP BY event_type
ORDER BY event_type NULLS FIRST
"""

ORACLES["ext_funnel_conversion"] = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
),
stages AS (
  SELECT '1_view' AS stage, user_id FROM v
  UNION ALL SELECT '2_click', user_id FROM c
  UNION ALL SELECT '3_purchase', user_id FROM p
)
SELECT stage, COUNT(*) AS n_users FROM stages
GROUP BY stage ORDER BY stage NULLS FIRST
"""

ORACLES["ext_cohort_retention"] = """
WITH first_seen AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
)
SELECT CAST(f.cohort_week AS DATE) AS cohort_week,
       CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS BIGINT) AS week_offset,
       COUNT(*) AS n_users
FROM activity a JOIN first_seen f ON a.user_id = f.user_id
GROUP BY f.cohort_week, week_offset
ORDER BY cohort_week NULLS FIRST, week_offset NULLS FIRST
"""

ORACLES["ext_embedding_neardup_gemm"] = ORACLES["ext_embedding_neardup"]
ORACLES["ext_cosine_topk_gemm"] = ORACLES["ext_cosine_topk"]


# ---------------------------------------------------------------------------
# Round-2 additions: rule-based curation, budget selection, snapshot diff,
# hybrid retrieval (operators/heuristics.py, sampling.py, snapshots.py,
# retrieval.py)
# ---------------------------------------------------------------------------


def ext_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] the published Gopher document-quality rules as per-doc
    verdicts (operators/heuristics.py::gopher_rules): word count, mean word
    length, symbol ratio, bullet/ellipsis line fractions, alpha-word
    fraction, required-stopword hits — all codegen'd scalar projections,
    zero shuffles."""
    from dbt_meshify_spark.operators.heuristics import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    return (
        gopher_rules(docs, min_words=30)
        .select(
            "doc_id",
            "n_words",
            "mean_word_len",
            "symbol_ratio",
            "bullet_frac",
            "ellipsis_frac",
            "alpha_frac",
            "stop_hits",
            "r_word_count",
            "r_mean_word_len",
            "r_stopwords",
            "gopher_keep",
        )
        .orderBy(_asc("doc_id"))
    )


def ext_c4_line_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] the published C4 line-level cleaning rules
    (operators/heuristics.py::c4_line_clean): keep a line iff it has >= 5
    words, ends in terminal punctuation, and contains no banned phrase; a
    doc survives iff >= 1 line survives. The corpus is single-line word
    soup, so each doc is synthesized into a 5-line page exercising every
    rule — a kept prose line, a too-short line, a no-terminal-punct line,
    a banned-phrase ('javascript') line, and a constant kept line — with
    chr(10) joins identical on both engines (SURVEY §2.7 escape rule).
    One array pass per doc, zero shuffles; kept lines re-join with ' | '
    so the checked output stays newline-free scalars."""
    from dbt_meshify_spark.operators.heuristics import c4_line_clean

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("__l")
    )
    line1 = F.concat(
        F.concat_ws(" ", F.slice("__l", 1, 6)), F.lit(" stays and ends fine.")
    )
    line2 = F.concat_ws(" ", F.slice("__l", 1, 3))
    line3 = F.concat(
        F.concat_ws(" ", F.slice("__l", 7, 6)), F.lit(" no terminal punct")
    )
    line4 = F.concat(
        F.lit("please enable javascript to view "),
        F.concat_ws(" ", F.slice("__l", 4, 3)),
        F.lit(" properly."),
    )
    line5 = F.lit("Another good sentence follows the rules and stays here!")
    synth = staged.select(
        "doc_id",
        F.concat_ws("\n", line1, line2, line3, line4, line5).alias("text"),
    )
    return (
        c4_line_clean(synth)
        .select(
            "doc_id",
            "n_lines",
            "n_lines_kept",
            F.replace(F.col("text_clean"), F.lit("\n"), F.lit(" | ")).alias(
                "clean_joined"
            ),
            "c4_keep",
        )
        .orderBy(_asc("doc_id"))
    )


QUERIES["ext_c4_line_clean"] = ext_c4_line_clean

ORACLES["ext_c4_line_clean"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents
),
synth AS (
  SELECT doc_id,
    array_to_string(l[1:6], ' ') || ' stays and ends fine.' || chr(10) ||
    array_to_string(l[1:3], ' ') || chr(10) ||
    array_to_string(l[7:12], ' ') || ' no terminal punct' || chr(10) ||
    'please enable javascript to view ' || array_to_string(l[4:6], ' ')
      || ' properly.' || chr(10) ||
    'Another good sentence follows the rules and stays here!' AS text
  FROM toks
),
kept AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls,
         list_filter(string_split(text, chr(10)), ln ->
           len(string_split_regex(trim(ln), '\s+')) >= 5
           AND regexp_matches(trim(ln), '[.!?"'']$')
           AND NOT contains(lower(trim(ln)), 'javascript')
           AND NOT contains(lower(trim(ln)), 'lorem ipsum')
           AND NOT contains(lower(trim(ln)), '{')
         ) AS keptl
  FROM synth
)
SELECT doc_id,
       CAST(len(ls) AS BIGINT) AS n_lines,
       CAST(len(keptl) AS BIGINT) AS n_lines_kept,
       array_to_string(keptl, ' | ') AS clean_joined,
       len(keptl) >= 1 AS c4_keep
FROM kept
ORDER BY doc_id NULLS FIRST
"""


def ext_stream_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6/N4] STREAMING rule-based curation: the Gopher filter applied to a
    document file stream and drained availableNow — stateless projection per
    micro-batch, shares the batch operator's oracle
    (streaming/documents.py::stream_gopher_filter)."""

    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_gopher_filter,
    )

    feed = read_documents_stream(spark, f"{sf_dir.rstrip('/')}/documents.parquet")
    out_dir = _stream_scratch("stream_gopher_")
    drained = stream_gopher_filter(feed, out_dir, min_words=30)
    return drained.orderBy(_asc("doc_id"))


def ext_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9] per-domain document cap with a blocklist: drop the blocked
    source entirely, then keep at most 15 best-quality docs per source
    (operators/sampling.py::cap_per_key) — the no-domain-dominates rule of
    web-scale curation. One hash shuffle on the (low-cardinality) key."""
    from dbt_meshify_spark.operators.sampling import cap_per_key

    docs = load_table(spark, sf_dir, "documents").filter(F.col("source") != "src3")
    scored = quality_score(docs)
    capped = cap_per_key(
        scored, "source", 15, [F.col("quality").desc(), F.col("doc_id").asc()]
    )
    return capped.select(
        "doc_id",
        "source",
        "quality",
        F.col("rank_in_key").cast("bigint").alias("rank_in_key"),
    ).orderBy(_asc("doc_id"))


def ext_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9] token-budget selection: best-quality-first prefix of the corpus
    whose cumulative token count fits a 10k budget
    (operators/sampling.py::select_to_token_budget). The running total is
    the distributed two-phase form — range partition + per-partition window
    + broadcast prefix offsets — NOT a single-task global window."""
    from dbt_meshify_spark.operators.sampling import select_to_token_budget

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs).select("doc_id", "quality", "n_tokens")
    kept = select_to_token_budget(
        scored,
        budget=10_000,
        token_col="n_tokens",
        order_by=[F.col("quality").desc(), F.col("doc_id").asc()],
    )
    return kept.select(
        "doc_id",
        "quality",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "cum_tokens",
    ).orderBy(_asc("doc_id"))


def ext_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9] snapshot diff between two corpus versions: v_old drops doc_id
    multiples of 7, v_new drops multiples of 5 and edits multiples of 11 —
    added/removed/changed via one full-outer join of md5 fingerprint
    projections; the text itself never shuffles
    (operators/snapshots.py::snapshot_diff)."""
    from dbt_meshify_spark.operators.snapshots import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new).orderBy(_asc("doc_id"))


def ext_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3/N4] hybrid RAG retrieval: BM25 lexical ranking over documents
    fused with a cosine semantic ranking over embeddings (vec_id = doc_id)
    by reciprocal-rank fusion, k=60, top-20
    (operators/retrieval.py::rrf_fuse). Each ranking is candidate-sized
    before the fusion join; both rankings rank on ROUNDED scores with id
    tiebreaks so the order is bit-stable across engines."""
    from dbt_meshify_spark.operators.retrieval import rank_by, rrf_fuse
    from dbt_meshify_spark.operators.similarity import cosine_similarity

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = rank_by(
        bm25_scores(docs, ["spark", "query", "merge"]), "bm25", top_n=50
    ).select("doc_id", "rank")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    sims = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine_similarity(F.col("embedding"), F.col("qe")), 4).alias(
                "cs"
            ),
        )
    )
    sem = rank_by(sims, "cs", top_n=50).select("doc_id", "rank")
    fused = rrf_fuse(lex, sem, k=60, top_n=20)
    return fused.select(
        "doc_id",
        F.col("lex_rank").cast("bigint").alias("lex_rank"),
        F.col("sem_rank").cast("bigint").alias("sem_rank"),
        "rrf_score",
        F.col("fused_rank").cast("bigint").alias("fused_rank"),
    ).orderBy(_asc("doc_id"))


QUERIES["ext_gopher_rules"] = ext_gopher_rules
QUERIES["ext_stream_gopher_filter"] = ext_stream_gopher_filter
QUERIES["ext_source_cap"] = ext_source_cap
QUERIES["ext_token_budget"] = ext_token_budget
QUERIES["ext_corpus_diff"] = ext_corpus_diff
QUERIES["ext_hybrid_retrieval"] = ext_hybrid_retrieval


_GOPHER_CTE = r"""
gtoks AS (
  SELECT doc_id,
         text,
         string_split_regex(trim(lower(text)), '\s+') AS toks,
         GREATEST(len(string_split_regex(trim(lower(text)), '\s+')), 1) AS gw
  FROM documents
),
gfeat AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         ROUND(length(regexp_replace(trim(text), '\s+', '', 'g')) / gw, 4) AS mean_word_len,
         ROUND(((length(text) - length(replace(text, '#', '')))
                + (length(text) - length(replace(text, '...', ''))) / 3) / gw, 4) AS symbol_ratio,
         ROUND(len(regexp_extract_all(text, '(?m)^[ \t]*[-*' || chr(8226) || ']'))
               / (length(text) - length(replace(text, chr(10), '')) + 1), 4) AS bullet_frac,
         ROUND(len(regexp_extract_all(text, '(?m)\.\.\.[ \t]*$'))
               / (length(text) - length(replace(text, chr(10), '')) + 1), 4) AS ellipsis_frac,
         ROUND(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) / gw, 4) AS alpha_frac,
         CAST(CAST(list_contains(toks, 'the') AS INT) + CAST(list_contains(toks, 'be') AS INT)
            + CAST(list_contains(toks, 'to') AS INT) + CAST(list_contains(toks, 'of') AS INT)
            + CAST(list_contains(toks, 'and') AS INT) + CAST(list_contains(toks, 'that') AS INT)
            + CAST(list_contains(toks, 'have') AS INT) + CAST(list_contains(toks, 'with') AS INT)
           AS BIGINT) AS stop_hits
  FROM gtoks
),
gr AS (
  SELECT *,
         (n_words >= 30 AND n_words <= 100000) AS r_word_count,
         (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_mean_word_len,
         (symbol_ratio <= 0.1) AS r_symbol_ratio,
         (bullet_frac <= 0.9) AS r_bullet_lines,
         (ellipsis_frac <= 0.3) AS r_ellipsis_lines,
         (alpha_frac >= 0.8) AS r_alpha_words,
         (stop_hits >= 2) AS r_stopwords
  FROM gfeat
),
gv AS (
  SELECT *,
         (r_word_count AND r_mean_word_len AND r_symbol_ratio AND r_bullet_lines
          AND r_ellipsis_lines AND r_alpha_words AND r_stopwords) AS gopher_keep
  FROM gr
)
"""

ORACLES["ext_gopher_rules"] = (
    "WITH "
    + _GOPHER_CTE.strip().rstrip()
    + """
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       ellipsis_frac, alpha_frac, stop_hits,
       r_word_count, r_mean_word_len, r_stopwords, gopher_keep
FROM gv ORDER BY doc_id NULLS FIRST
"""
)

ORACLES["ext_stream_gopher_filter"] = (
    "WITH "
    + _GOPHER_CTE.strip().rstrip()
    + """
SELECT doc_id, n_words, mean_word_len, stop_hits
FROM gv WHERE gopher_keep ORDER BY doc_id NULLS FIRST
"""
)

ORACLES["ext_source_cap"] = (
    "WITH q AS ("
    + _QUALITY_CTE_SQL
    + """),
j AS (
  SELECT d.doc_id, d.source, q.quality
  FROM documents d JOIN q ON d.doc_id = q.doc_id
  WHERE d.source != 'src3'
),
r AS (
  SELECT doc_id, source, quality,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rank_in_key
  FROM j
)
SELECT doc_id, source, quality, CAST(rank_in_key AS BIGINT) AS rank_in_key
FROM r WHERE rank_in_key <= 15
ORDER BY doc_id NULLS FIRST
"""
)

ORACLES["ext_token_budget"] = (
    "WITH q AS ("
    + _QUALITY_CTE_SQL
    + """),
c AS (
  SELECT doc_id, quality, n_tokens,
         SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC) AS cum_tokens
  FROM q
)
SELECT doc_id, quality, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= 10000
ORDER BY doc_id NULLS FIRST
"""
)

ORACLES["ext_corpus_diff"] = """
WITH o AS (
  SELECT doc_id, md5(text) AS fp_old, TRUE AS in_old
  FROM documents WHERE doc_id % 7 != 0
),
n AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS fp_new,
         TRUE AS in_new
  FROM documents WHERE doc_id % 5 != 0
),
j AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, o.fp_old, n.fp_new,
         o.in_old, n.in_new
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
)
SELECT doc_id,
       CASE WHEN in_old IS NULL THEN 'added'
            WHEN in_new IS NULL THEN 'removed'
            ELSE 'changed' END AS status,
       fp_old, fp_new
FROM j
WHERE in_old IS NULL OR in_new IS NULL OR fp_old IS DISTINCT FROM fp_new
ORDER BY doc_id NULLS FIRST
"""

ORACLES["ext_hybrid_retrieval"] = r"""
WITH b2 AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS dl,
         string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents
),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM b2),
tf AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM b2) t
  WHERE term IN ('spark', 'query', 'merge')
  GROUP BY doc_id, dl, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
bm AS (
  SELECT tf.doc_id,
         ROUND(SUM(ln(1.0 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))), 4) AS bm25
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id
),
lex AS (
  SELECT doc_id, lex_rank FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
    FROM bm
  ) WHERE lex_rank <= 50
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
sims AS (
  SELECT c.vec_id AS doc_id,
         ROUND(list_dot_product(q.e, c.e) /
               (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)) + 1e-12),
               4) AS cs
  FROM v q JOIN v c ON q.vec_id = 0 AND c.vec_id != 0
),
sem AS (
  SELECT doc_id, sem_rank FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cs DESC, doc_id ASC) AS sem_rank
    FROM sims
  ) WHERE sem_rank <= 50
),
f AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank,
         ROUND(COALESCE(1.0 / (60 + l.lex_rank), 0.0)
             + COALESCE(1.0 / (60 + s.sem_rank), 0.0), 6) AS rrf_score
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
),
r AS (
  SELECT doc_id, lex_rank, sem_rank, rrf_score,
         ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS fused_rank
  FROM f
)
SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(sem_rank AS BIGINT) AS sem_rank, rrf_score,
       CAST(fused_rank AS BIGINT) AS fused_rank
FROM r WHERE fused_rank <= 20
ORDER BY doc_id NULLS FIRST
"""


def ext_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3/N10] exact covariance matrix of the embedding column — ONE corpus
    pass of per-Arrow-batch GEMM partials (mapInPandas), then a d^2-row
    codegen aggregate; corpus never shuffles
    (operators/pca.py::embedding_covariance). Oracle replays E[xx^T]-mu mu^T
    via an unnested self-join."""
    from dbt_meshify_spark.operators.pca import embedding_covariance

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        embedding_covariance(emb)
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            # + 0.0 folds IEEE -0.0 to +0.0 — the driver's canonicalizer
            # sorts rows by str(), where '-0.0' != '0.0'
            (F.round("cov", 4) + F.lit(0.0)).alias("cov"),
        )
        .orderBy(_asc("i"), _asc("j"))
    )


def ext_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3/N10] PCA projection onto the top-4 principal components
    (operators/pca.py::pca_project): driver-side eigh of the one-pass
    covariance, Arrow-batched GEMM projection. Rows-only by design (the
    eigenbasis is fixed by a sign convention, but eigenvalue near-ties make
    exact cross-engine component values unstable); variance/orthonormality
    invariants are unit-tested."""
    from dbt_meshify_spark.operators.pca import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    out = pca_project(emb, k=4)
    return out.select(
        "vec_id",
        *[
            F.round(F.element_at("components", i + 1), 4).alias(f"c{i}")
            for i in range(4)
        ],
        "explained_var",
    ).orderBy(_asc("vec_id"))


QUERIES["ext_embedding_covariance"] = ext_embedding_covariance
QUERIES["ext_pca_project"] = ext_pca_project

ORACLES["ext_embedding_covariance"] = r"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, y -> CAST(y AS DOUBLE)) AS e
  FROM embeddings
),
x AS (
  SELECT vec_id,
         unnest(list_transform(range(1, len(e) + 1),
                               ii -> {'i': ii - 1, 'x': e[ii]})) AS s
  FROM v
),
xf AS (SELECT vec_id, CAST(s.i AS BIGINT) AS i, s.x AS xi FROM x),
m AS (SELECT i, AVG(xi) AS mu FROM xf GROUP BY i),
p AS (
  SELECT a.i AS i, b.i AS j, AVG(a.xi * b.xi) AS exx
  FROM xf a JOIN xf b USING (vec_id)
  GROUP BY a.i, b.i
)
SELECT p.i AS i, p.j AS j, ROUND(p.exx - ma.mu * mb.mu, 4) + 0.0 AS cov
FROM p JOIN m ma ON ma.i = p.i JOIN m mb ON mb.i = p.j
ORDER BY p.i NULLS FIRST, p.j NULLS FIRST
"""


def ext_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9/N10] weighted sampling without replacement (Efraimidis–Spirakis):
    inclusion probability proportional to n_chars, deterministic via
    md5-derived uniforms, top-k as TakeOrderedAndProject — never a global
    sort (operators/sampling.py::weighted_sample_k). Oracle replays the
    u^(1/w) ranking with digit-arithmetic hex parsing."""
    from dbt_meshify_spark.operators.sampling import weighted_sample_k

    docs = load_table(spark, sf_dir, "documents")
    out = weighted_sample_k(docs, k=50, weight_col="n_chars", key_cols=["doc_id"])
    return out.select(
        "doc_id",
        "n_chars",
        F.col("draw_rank").cast("bigint").alias("draw_rank"),
    ).orderBy(_asc("doc_id"))


def ext_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N10] per-domain percentile calibration of the quality score
    (operators/domains.py::calibrate_scores): a fixed global threshold then
    selects the same fraction from every domain — the guard against an
    uncalibrated global cut silently dropping whole sources."""
    from dbt_meshify_spark.operators.domains import calibrate_scores

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs)
    return (
        calibrate_scores(scored, "quality", "source")
        .select("doc_id", "source", "quality", "score_pct")
        .orderBy(_asc("doc_id"))
    )


QUERIES["ext_weighted_sample"] = ext_weighted_sample
QUERIES["ext_score_calibration"] = ext_score_calibration

def _hex8_sum(col: str) -> str:
    """Digit-arithmetic value of the first 8 hex digits of md5 column
    ``col`` — the engine-portable integer form of the repo's md5 hashing
    (shared by the weighted-sample and DSIR oracles)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {p + 1}, 1)) - 1)"
        f" * {float(16 ** (7 - p))!r}"
        for p in range(8)
    )


_ES_DIGIT_SUM = _hex8_sum("hx")

ORACLES["ext_weighted_sample"] = f"""
WITH h AS (
  SELECT doc_id, n_chars,
         md5('es0|' || CAST(doc_id AS VARCHAR)) AS hx
  FROM documents WHERE n_chars > 0
),
u AS (
  SELECT doc_id, n_chars,
         ({_ES_DIGIT_SUM} + 0.5) / {float(16 ** 8)!r} AS uu
  FROM h
),
k AS (
  SELECT doc_id, n_chars, POW(uu, 1.0 / CAST(n_chars AS DOUBLE)) AS es_key
  FROM u
),
r AS (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id ASC) AS draw_rank
  FROM k
)
SELECT doc_id, n_chars, CAST(draw_rank AS BIGINT) AS draw_rank
FROM r WHERE draw_rank <= 50
ORDER BY doc_id NULLS FIRST
"""

ORACLES["ext_score_calibration"] = (
    "WITH q AS ("
    + _QUALITY_CTE_SQL
    + """),
j AS (
  SELECT d.doc_id, d.source, q.quality
  FROM documents d JOIN q ON d.doc_id = q.doc_id
)
SELECT doc_id, source, quality,
       ROUND(PERCENT_RANK() OVER (PARTITION BY source ORDER BY quality ASC), 4) AS score_pct
FROM j
ORDER BY doc_id NULLS FIRST
"""
)


def ext_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N-decontam/N10] surgical decontamination: cut eval-overlapping
    13-token spans out of training documents instead of dropping them
    (operators/decontam.py::remove_contaminated_spans — eval gram hashes
    broadcast, interval-merge + in-row token cut; corpus never shuffles on
    text). Eval set = every 20th doc_id, train = the rest."""
    from dbt_meshify_spark.operators.decontam import remove_contaminated_spans

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 20 != 0)
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    return remove_contaminated_spans(train, ev, span_tokens=13).orderBy(
        _asc("doc_id")
    )


QUERIES["ext_decontaminate_spans"] = ext_decontaminate_spans

ORACLES["ext_decontaminate_spans"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
tr AS (SELECT * FROM toks WHERE doc_id % 20 != 0),
ev AS (SELECT * FROM toks WHERE doc_id % 20 = 0),
evg AS (
  SELECT DISTINCT array_to_string(l[i:i+12], ' ') AS gram
  FROM (SELECT l, unnest(range(1, len(l) - 11)) AS i FROM ev WHERE len(l) >= 13)
),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS start_tok, array_to_string(l[i:i+12], ' ') AS gram
  FROM (SELECT doc_id, l, unnest(range(1, len(l) - 11)) AS i FROM tr WHERE len(l) >= 13)
),
hits AS (
  SELECT g.doc_id, g.start_tok FROM grams g JOIN evg USING (gram)
),
marked AS (
  SELECT doc_id, start_tok,
         CASE WHEN lag(start_tok) OVER w IS NULL
                OR start_tok > lag(start_tok) OVER w + 13 THEN 1 ELSE 0 END AS new_grp
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY start_tok)
),
grps AS (
  SELECT doc_id, start_tok,
         SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY start_tok
                            ROWS UNBOUNDED PRECEDING) AS grp
  FROM marked
),
spans AS (
  SELECT doc_id, MIN(start_tok) AS s, MAX(start_tok) + 13 AS e
  FROM grps GROUP BY doc_id, grp
),
cov AS (SELECT DISTINCT doc_id, unnest(range(s, e)) AS idx FROM spans),
tokpos AS (
  SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS idx FROM tr
),
kept AS (
  SELECT t.doc_id, t.idx, t.term
  FROM tokpos t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.idx = t.idx
  WHERE c.idx IS NULL
),
agg AS (
  SELECT doc_id, string_agg(term, ' ' ORDER BY idx) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
),
orig AS (SELECT doc_id, COALESCE(len(l), 0) AS n FROM tr)
SELECT o.doc_id,
       COALESCE(a.clean_text, '') AS clean_text,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_kept,
       CAST(o.n - COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_removed
FROM orig o LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id NULLS FIRST
"""


def ext_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3/N10] embedding drift between two corpus snapshots (vec_id parity
    split): per-dimension mean/variance of each side and the mean shift —
    the retraining trigger a continuous pipeline monitors. Exact per-dim
    aggregate with map-side combine (explode carries (dim, x) pairs, 64
    keys); at 100 TB the same numbers fall out of the one-pass GEMM
    machinery (operators/pca.py::embedding_covariance) per snapshot —
    this tier is the oracle-checkable replay."""
    emb = load_table(spark, sf_dir, "embeddings")
    sides = emb.select(
        (F.col("vec_id") % 2 == 0).alias("is_a"),
        F.posexplode("embedding").alias("dim", "x"),
    ).select("is_a", F.col("dim").cast("bigint").alias("dim"), F.col("x").cast("double").alias("x"))
    stats = sides.groupBy("dim").agg(
        (F.round(F.avg(F.when(F.col("is_a"), F.col("x"))), 4) + F.lit(0.0)).alias("mean_a"),
        (F.round(F.avg(F.when(~F.col("is_a"), F.col("x"))), 4) + F.lit(0.0)).alias("mean_b"),
        (
            F.round(
                F.avg(F.when(F.col("is_a"), F.col("x") * F.col("x")))
                - F.pow(F.avg(F.when(F.col("is_a"), F.col("x"))), 2),
                4,
            )
            + F.lit(0.0)
        ).alias("var_a"),
        (
            F.round(
                F.avg(F.when(~F.col("is_a"), F.col("x") * F.col("x")))
                - F.pow(F.avg(F.when(~F.col("is_a"), F.col("x"))), 2),
                4,
            )
            + F.lit(0.0)
        ).alias("var_b"),
    )
    return stats.withColumn(
        "mean_shift", F.round(F.col("mean_b") - F.col("mean_a"), 4) + F.lit(0.0)
    ).orderBy(_asc("dim"))


QUERIES["ext_embedding_drift"] = ext_embedding_drift

ORACLES["ext_embedding_drift"] = r"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, y -> CAST(y AS DOUBLE)) AS e
  FROM embeddings
),
x AS (
  SELECT vec_id % 2 = 0 AS is_a,
         unnest(list_transform(range(1, len(e) + 1),
                               ii -> {'d': ii - 1, 'x': e[ii]})) AS s
  FROM v
),
xf AS (SELECT is_a, CAST(s.d AS BIGINT) AS dim, s.x AS x FROM x),
stats AS (
  SELECT dim,
         ROUND(AVG(CASE WHEN is_a THEN x END), 4) + 0.0 AS mean_a,
         ROUND(AVG(CASE WHEN NOT is_a THEN x END), 4) + 0.0 AS mean_b,
         ROUND(AVG(CASE WHEN is_a THEN x * x END)
               - POW(AVG(CASE WHEN is_a THEN x END), 2), 4) + 0.0 AS var_a,
         ROUND(AVG(CASE WHEN NOT is_a THEN x * x END)
               - POW(AVG(CASE WHEN NOT is_a THEN x END), 2), 4) + 0.0 AS var_b
  FROM xf GROUP BY dim
)
SELECT dim, mean_a, mean_b, var_a, var_b,
       ROUND(mean_b - mean_a, 4) + 0.0 AS mean_shift
FROM stats
ORDER BY dim NULLS FIRST
"""


def ext_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[O/N10] user-journey Markov transitions: per-user event sequences
    (lead over (user_id, ts, event_id)) aggregated into a transition matrix
    with per-source probabilities — the behavioral-analytics shape. One
    window shuffle on user_id + one count shuffle on the (src,dst) pair
    (bounded by |event_type|^2)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", F.col("event_type").alias("src"))
        .withColumn("dst", F.lead("src").over(w))
        .filter(F.col("dst").isNotNull())
    )
    counts = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w_src = Window.partitionBy("src")
    return (
        counts.withColumn(
            "p", F.round(F.col("n") / F.sum("n").over(w_src), 4) + F.lit(0.0)
        )
        .orderBy(_asc("src"), _asc("dst"))
    )


def ext_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[O/N10] rate anomaly detection: hourly event counts per type, z-score
    against that type's own hourly distribution, |z| >= 2 flagged — the
    monitoring primitive of a continuous ingest pipeline. The z-score window
    partitions on event_type (cardinality-bounded); counts aggregate
    map-side first."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("event_type")
    # a type with zero hourly variance has no z-score: divide by
    # NULLIF-equivalent so both engines yield NULL (DuckDB's 0/0 is NaN,
    # which its ORDER BY ranks above everything — a silent false anomaly)
    sd = F.stddev_pop("n").over(w)
    z = (F.col("n") - F.avg("n").over(w)) / F.when(sd != 0, sd)
    return (
        hourly.withColumn("z", F.round(z, 4) + F.lit(0.0))
        .withColumn("is_anomaly", F.abs(F.col("z")) >= 2.0)
        .select(
            "event_type",
            F.col("hour").cast("timestamp").alias("hour"),
            "n",
            "z",
            "is_anomaly",
        )
        .orderBy(_asc("event_type"), _asc("hour"))
    )


QUERIES["ext_event_transitions"] = ext_event_transitions
QUERIES["ext_event_anomalies"] = ext_event_anomalies

ORACLES["ext_event_transitions"] = """
WITH seq AS (
  SELECT user_id, event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
),
c AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
)
SELECT src, dst, n,
       ROUND(n / SUM(n) OVER (PARTITION BY src), 4) + 0.0 AS p
FROM c
ORDER BY src NULLS FIRST, dst NULLS FIRST
"""

ORACLES["ext_event_anomalies"] = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, date_trunc('hour', ts)
)
SELECT event_type, CAST(hour AS TIMESTAMP) AS hour, n,
       ROUND((n - AVG(n) OVER (PARTITION BY event_type))
             / NULLIF(STDDEV_POP(n) OVER (PARTITION BY event_type), 0), 4) + 0.0 AS z,
       (ABS(ROUND((n - AVG(n) OVER (PARTITION BY event_type))
                  / NULLIF(STDDEV_POP(n) OVER (PARTITION BY event_type), 0), 4)) >= 2.0) AS is_anomaly
FROM hourly
ORDER BY event_type NULLS FIRST, hour NULLS FIRST
"""


def ext_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N10] token co-occurrence PMI over the top-20 document-frequency
    vocabulary (operators/text.py::token_pmi): DF cut via
    TakeOrderedAndProject, corpus re-scanned once with the vocabulary
    broadcast, pair aggregate bounded at k^2 keys."""
    from dbt_meshify_spark.operators.text import token_pmi

    docs = load_table(spark, sf_dir, "documents")
    return token_pmi(docs, top_k=20).orderBy(_asc("tok_a"), _asc("tok_b"))


QUERIES["ext_token_pmi"] = ext_token_pmi

ORACLES["ext_token_pmi"] = r"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS token
  FROM documents
),
dfreq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_docs FROM tok GROUP BY token
),
top AS (
  SELECT token, n_docs FROM dfreq
  ORDER BY n_docs DESC, token ASC LIMIT 20
),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM documents),
sel AS (SELECT t.doc_id, t.token FROM tok t JOIN top USING (token)),
pairs AS (
  SELECT a.token AS tok_a, b.token AS tok_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM sel a JOIN sel b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY a.token, b.token
)
SELECT p.tok_a, p.tok_b, p.n_ab, ta.n_docs AS n_a, tb.n_docs AS n_b,
       ROUND(ln(p.n_ab * s.n_total / (ta.n_docs * tb.n_docs)), 4) + 0.0 AS pmi
FROM pairs p
JOIN top ta ON ta.token = p.tok_a
JOIN top tb ON tb.token = p.tok_b
CROSS JOIN stats s
ORDER BY tok_a NULLS FIRST, tok_b NULLS FIRST
"""


def ext_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9/N10] DSIR importance weights (operators/dsir.py): hashed-bigram
    bucket distributions for the target slice (lang='en') vs the raw corpus,
    per-doc log likelihood ratio. One tokenize scan, one (doc, bucket)
    partial-agg shuffle, bounded broadcast of the 1024-bucket ratio table."""
    from dbt_meshify_spark.operators.dsir import dsir_log_weights

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "is_target", F.col("lang") == "en"
    )
    out = dsir_log_weights(docs, "is_target", num_buckets=1024)
    return out.select(
        "doc_id",
        "is_target",
        "n_bigrams",
        (F.round("dsir_logw", 4) + F.lit(0.0)).alias("dsir_logw"),
    ).orderBy(_asc("doc_id"))


def ext_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9/N10] DSIR resampling (operators/dsir.py::dsir_resample_k): Gumbel
    top-k over the ROUNDED log weights — an exact softmax-weighted sample
    without replacement, deterministic via md5 uniforms, planned as
    TakeOrderedAndProject (no global sort)."""
    from dbt_meshify_spark.operators.dsir import dsir_log_weights, dsir_resample_k

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "is_target", F.col("lang") == "en"
    )
    scored = dsir_log_weights(docs, "is_target", num_buckets=1024).withColumn(
        "dsir_logw", F.round("dsir_logw", 4) + F.lit(0.0)
    )
    picked = dsir_resample_k(scored, k=100, id_cols=["doc_id"])
    return (
        picked.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "dsir_logw",
            F.col("draw_rank").cast("bigint").alias("draw_rank"),
        )
        .orderBy(_asc("doc_id"))
    )


QUERIES["ext_dsir_weights"] = ext_dsir_weights
QUERIES["ext_dsir_sample"] = ext_dsir_sample


_DSIR_CTES = r"""
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS tgt,
         string_split_regex(trim(lower(text)), '\s+') AS l
  FROM documents
),
t2 AS (SELECT * FROM toks WHERE len(l) >= 2),
pos AS (SELECT doc_id, tgt, l, unnest(range(1, len(l))) AS i FROM t2),
grams AS (
  SELECT doc_id, tgt, md5(l[i] || ' ' || l[i+1]) AS gx FROM pos
),
bk AS (
  SELECT doc_id, tgt, CAST(({HEX8}) AS BIGINT) % 1024 AS b FROM grams
),
tf AS (
  SELECT doc_id, tgt, b, COUNT(*) AS tf FROM bk GROUP BY doc_id, tgt, b
),
cnt AS (
  SELECT b, SUM(CASE WHEN tgt THEN tf ELSE 0 END) AS ct, SUM(tf) AS cr
  FROM tf GROUP BY b
),
tot AS (SELECT CAST(SUM(ct) AS DOUBLE) AS tt, CAST(SUM(cr) AS DOUBLE) AS tr FROM cnt),
ratio AS (
  SELECT b,
         ln((CAST(ct AS DOUBLE) + 1.0) / (tt + 1024.0))
         - ln((CAST(cr AS DOUBLE) + 1.0) / (tr + 1024.0)) AS lr
  FROM cnt CROSS JOIN tot
),
dw AS (
  SELECT tf.doc_id, SUM(tf.tf) AS nb, SUM(tf.tf * ratio.lr) AS logw
  FROM tf JOIN ratio USING (b) GROUP BY tf.doc_id
),
scored AS (
  SELECT d.doc_id, d.lang, (d.lang = 'en') AS is_target,
         CAST(COALESCE(dw.nb, 0) AS BIGINT) AS n_bigrams,
         ROUND(COALESCE(dw.logw, 0.0), 4) + 0.0 AS dsir_logw
  FROM documents d LEFT JOIN dw ON d.doc_id = dw.doc_id
)
""".replace("{HEX8}", _hex8_sum("gx"))

ORACLES["ext_dsir_weights"] = _DSIR_CTES + """
SELECT doc_id, is_target, n_bigrams, dsir_logw
FROM scored
ORDER BY doc_id NULLS FIRST
"""

ORACLES["ext_dsir_sample"] = _DSIR_CTES + """
, u AS (
  SELECT doc_id, lang, dsir_logw,
         ({UHEX} + 0.5) / {SCALE} AS uu
  FROM (SELECT s.*, md5('dsir0|' || CAST(doc_id AS VARCHAR)) AS ux FROM scored s)
),
keyed AS (
  SELECT doc_id, lang, dsir_logw,
         dsir_logw + (-ln(-ln(uu))) AS gk
  FROM u
),
r AS (
  SELECT doc_id, lang, dsir_logw,
         ROW_NUMBER() OVER (ORDER BY gk DESC, doc_id ASC) AS draw_rank
  FROM keyed
)
SELECT doc_id, lang, dsir_logw, CAST(draw_rank AS BIGINT) AS draw_rank
FROM r WHERE draw_rank <= 100
ORDER BY doc_id NULLS FIRST
""".replace("{UHEX}", _hex8_sum("ux")).replace("{SCALE}", repr(float(16 ** 8)))


def ext_mixture_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9/N10] data-mixture recipe execution
    (operators/sampling.py::apply_mixture_recipe): fill every (lang, source)
    cell to its own token budget, best-first, via the per-cell two-phase
    distributed running total — never a one-task-per-cell window. The recipe
    here is "half of each cell's chars", derived as a bounded aggregate and
    broadcast."""
    from dbt_meshify_spark.operators.sampling import apply_mixture_recipe

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    recipe = docs.groupBy("lang", "source").agg(
        F.floor(0.5 * F.sum("n_chars")).cast("bigint").alias("token_budget")
    )
    out = apply_mixture_recipe(
        docs,
        recipe,
        cell_cols=["lang", "source"],
        token_col="n_chars",
        order_by=[F.col("n_chars").desc(), F.col("doc_id").asc()],
    )
    return out.select(
        "doc_id", "lang", "source", "n_chars", "cum_tokens_cell", "token_budget"
    ).orderBy(_asc("doc_id"))


QUERIES["ext_mixture_recipe"] = ext_mixture_recipe

ORACLES["ext_mixture_recipe"] = """
WITH d AS (SELECT doc_id, lang, source, n_chars FROM documents WHERE n_chars IS NOT NULL),
r AS (
  SELECT lang, source,
         CAST(FLOOR(0.5 * SUM(n_chars)) AS BIGINT) AS token_budget
  FROM d GROUP BY lang, source
),
c AS (
  SELECT doc_id, lang, source, n_chars,
         SUM(n_chars) OVER (
           PARTITION BY lang, source
           ORDER BY n_chars DESC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM d
)
SELECT c.doc_id, c.lang, c.source, c.n_chars,
       CAST(c.cum AS BIGINT) AS cum_tokens_cell, r.token_budget
FROM c JOIN r USING (lang, source)
WHERE c.cum <= r.token_budget
ORDER BY doc_id NULLS FIRST
"""


def ext_ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3] continuous similarity serving: probe a PERSISTED IVF index
    (operators/similarity.py::ivf_index / ivf_probe_index) with a query
    batch — centroid training and corpus cell assignment happen once at
    build; the probe equi-joins the stored cells and never re-reads the
    corpus. Rows-only check (k-means cells); index round-trip + no-rebuild
    invariants in tests.

    The index is PERSISTED keyed on sf_dir (ensure_ivf_index: _SUCCESS +
    source-fingerprint gated, like ensure_bucketed) so repeat runs measure
    the probe, not the one-time k-means train — the true serving cost."""
    import os

    from dbt_meshify_spark.operators.similarity import (
        ensure_ivf_index,
        ivf_probe_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, cells = ensure_ivf_index(
        spark,
        emb,
        cache_key=sf_dir,
        nlist=16,
        source_path=os.path.join(sf_dir, "embeddings.parquet"),
    )
    q = emb.filter(F.col("vec_id") < 5)
    return (
        ivf_probe_index(q, centroids, cells, k=3, nprobe=4)
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy(_asc("query_id"), _asc("rank"))
    )


QUERIES["ext_ann_ivf_probe"] = ext_ann_ivf_probe


def ext_ann_ivf_probe_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3] quantized-index similarity serving: probe a PERSISTED
    int8-QUANTIZED IVF index (operators/similarity.py::ensure_ivf_index_q8
    / ivf_probe_index_q8) — the memory half of the 100 TB ANN story: the
    stored cells carry (id, cell, scale, q:array<tinyint>), 4-8x smaller
    than the fp twin, and the probe join + Arrow batches move int8 arrays
    with dequantization inside the scoring UDF. Rows-only check (k-means
    cells); recall-vs-fp32 and cache invariants in tests."""
    import os

    from dbt_meshify_spark.operators.similarity import (
        ensure_ivf_index_q8,
        ivf_probe_index_q8,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, qcells = ensure_ivf_index_q8(
        spark,
        emb,
        cache_key=sf_dir,
        nlist=16,
        source_path=os.path.join(sf_dir, "embeddings.parquet"),
    )
    q = emb.filter(F.col("vec_id") < 5)
    return (
        ivf_probe_index_q8(q, centroids, qcells, k=3, nprobe=4)
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy(_asc("query_id"), _asc("rank"))
    )


QUERIES["ext_ann_ivf_probe_q8"] = ext_ann_ivf_probe_q8


def ext_self_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N4] within-document repetition removal
    (operators/dedup.py::remove_self_repetition): cut every repeated
    3-gram span after its first occurrence — the degenerate-loop /
    intra-doc boilerplate cleaner (3-gram grain here for test-corpus
    signal; production uses 10-20). Hit detection shuffles (id, hash,
    position) only; the cut never shuffles the corpus."""
    from dbt_meshify_spark.operators.dedup import remove_self_repetition

    docs = load_table(spark, sf_dir, "documents")
    return remove_self_repetition(docs, passage_tokens=3).orderBy(_asc("doc_id"))


QUERIES["ext_self_repetition"] = ext_self_repetition

ORACLES["ext_self_repetition"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
pos AS (SELECT doc_id, unnest(range(1, len(l) - 1)) AS i, l FROM toks WHERE len(l) >= 3),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS start_tok, array_to_string(l[i:i+2], ' ') AS gram
  FROM pos
),
firsts AS (
  SELECT doc_id, gram, MIN(start_tok) AS first_tok
  FROM grams GROUP BY doc_id, gram
),
hits AS (
  SELECT g.doc_id, g.start_tok
  FROM grams g JOIN firsts f ON f.doc_id = g.doc_id AND f.gram = g.gram
  WHERE g.start_tok >= f.first_tok + 3
),
marked AS (
  SELECT doc_id, start_tok,
         CASE WHEN lag(start_tok) OVER w IS NULL
                OR start_tok > lag(start_tok) OVER w + 3 THEN 1 ELSE 0 END AS new_grp
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY start_tok)
),
grps AS (
  SELECT doc_id, start_tok,
         SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY start_tok
                            ROWS UNBOUNDED PRECEDING) AS grp
  FROM marked
),
spans AS (
  SELECT doc_id, MIN(start_tok) AS s, MAX(start_tok) + 3 AS e
  FROM grps GROUP BY doc_id, grp
),
cov AS (SELECT DISTINCT doc_id, unnest(range(s, e)) AS idx FROM spans),
tokpos AS (
  SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS idx FROM toks
),
kept AS (
  SELECT t.doc_id, t.idx, t.term
  FROM tokpos t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.idx = t.idx
  WHERE c.idx IS NULL
),
agg AS (
  SELECT doc_id, string_agg(term, ' ' ORDER BY idx) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
),
orig AS (SELECT doc_id, COALESCE(len(l), 0) AS n FROM toks)
SELECT o.doc_id,
       COALESCE(a.clean_text, '') AS clean_text,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_kept,
       CAST(o.n - COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_removed
FROM orig o LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id NULLS FIRST
"""


def ext_quality_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9/N10] score-distribution drift between corpus snapshots
    (operators/snapshots.py::score_psi): Population Stability Index of the
    quality score, fixed-width buckets over the baseline's range (no global
    sort), Laplace-smoothed bucket probabilities, per-bucket drill-down +
    total. Snapshots here are the even/odd doc_id halves."""
    from dbt_meshify_spark.operators.snapshots import score_psi
    from dbt_meshify_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs).select("doc_id", "quality")
    old = scored.filter(F.col("doc_id") % 2 == 0)
    new = scored.filter(F.col("doc_id") % 2 == 1)
    out = score_psi(old, new, "quality", n_buckets=10)
    return out.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "n_old",
        "n_new",
        (F.round("p_old", 4) + F.lit(0.0)).alias("p_old"),
        (F.round("p_new", 4) + F.lit(0.0)).alias("p_new"),
        (F.round("psi_term", 4) + F.lit(0.0)).alias("psi_term"),
        (F.round("psi_total", 4) + F.lit(0.0)).alias("psi_total"),
    ).orderBy(_asc("bucket"))


QUERIES["ext_quality_psi"] = ext_quality_psi

ORACLES["ext_quality_psi"] = (
    "WITH q AS ("
    + _QUALITY_CTE_SQL
    + """),
o AS (SELECT quality FROM q WHERE doc_id % 2 = 0 AND quality IS NOT NULL),
nw AS (SELECT quality FROM q WHERE doc_id % 2 = 1 AND quality IS NOT NULL),
e AS (SELECT CAST(MIN(quality) AS DOUBLE) AS lo, CAST(MAX(quality) AS DOUBLE) AS hi FROM o),
ob AS (
  SELECT GREATEST(0, LEAST(CAST(FLOOR((quality - lo) /
           (CASE WHEN hi > lo THEN (hi - lo) / 10.0 ELSE 1.0 END)) AS INT), 9)) AS bucket,
         COUNT(*) AS n_old
  FROM o CROSS JOIN e GROUP BY 1
),
nb AS (
  SELECT GREATEST(0, LEAST(CAST(FLOOR((quality - lo) /
           (CASE WHEN hi > lo THEN (hi - lo) / 10.0 ELSE 1.0 END)) AS INT), 9)) AS bucket,
         COUNT(*) AS n_new
  FROM nw CROSS JOIN e GROUP BY 1
),
sp AS (SELECT unnest(range(0, 10)) AS bucket),
c AS (
  SELECT sp.bucket, COALESCE(ob.n_old, 0) AS n_old, COALESCE(nb.n_new, 0) AS n_new
  FROM sp LEFT JOIN ob ON ob.bucket = sp.bucket LEFT JOIN nb ON nb.bucket = sp.bucket
),
t AS (SELECT CAST(SUM(n_old) AS DOUBLE) AS tot_o, CAST(SUM(n_new) AS DOUBLE) AS tot_n FROM c),
p AS (
  SELECT bucket, n_old, n_new,
         (n_old + 0.5) / (tot_o + 5.0) AS p_old,
         (n_new + 0.5) / (tot_n + 5.0) AS p_new
  FROM c CROSS JOIN t
),
pt AS (SELECT *, (p_new - p_old) * ln(p_new / p_old) AS term FROM p),
tt AS (SELECT SUM(term) AS total FROM pt)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
       ROUND(p_old, 4) + 0.0 AS p_old, ROUND(p_new, 4) + 0.0 AS p_new,
       ROUND(term, 4) + 0.0 AS psi_term, ROUND(total, 4) + 0.0 AS psi_total
FROM pt CROSS JOIN tt
ORDER BY bucket NULLS FIRST
"""
)


def ext_source_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N10] per-source boilerplate detection
    (operators/dedup.py::source_boilerplate_passages): 3-grams present in
    >= 5% of a source's documents (demo thresholds; production = 10-grams
    at 50%) — the domain-template detector cross-corpus passage dedup
    misses. Shuffle carries (source, hash), never text; per-source doc
    counts broadcast."""
    from dbt_meshify_spark.operators.dedup import source_boilerplate_passages

    docs = load_table(spark, sf_dir, "documents")
    return source_boilerplate_passages(
        docs, passage_tokens=3, min_frac=0.05, min_docs=2
    ).orderBy(_asc("source"), _asc("passage"))


def ext_remove_source_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N10] per-source boilerplate removal
    (operators/dedup.py::remove_source_boilerplate): cut every detected
    template span from every doc of its source, rebuild the text — the
    same zero-corpus-shuffle span cut as the dedup/decontam passes."""
    from dbt_meshify_spark.operators.dedup import remove_source_boilerplate

    docs = load_table(spark, sf_dir, "documents")
    return remove_source_boilerplate(
        docs, passage_tokens=3, min_frac=0.05, min_docs=2
    ).orderBy(_asc("doc_id"))


QUERIES["ext_source_boilerplate"] = ext_source_boilerplate
QUERIES["ext_remove_source_boilerplate"] = ext_remove_source_boilerplate

_BOILER_CTES = r"""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS l
  FROM documents
),
pos AS (SELECT doc_id, source, unnest(range(1, len(l) - 1)) AS i, l
        FROM toks WHERE len(l) >= 3),
dgrams AS (
  SELECT DISTINCT doc_id, source, array_to_string(l[i:i+2], ' ') AS g FROM pos
),
sc AS (SELECT source, COUNT(DISTINCT doc_id) AS nd FROM toks GROUP BY source),
gc AS (
  SELECT source, g AS passage, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM dgrams GROUP BY source, g
),
boiler AS (
  SELECT gc.source, passage, n_docs,
         n_docs / CAST(nd AS DOUBLE) AS frac
  FROM gc JOIN sc USING (source)
  WHERE n_docs / CAST(nd AS DOUBLE) >= 0.05 AND n_docs >= 2
)
"""

ORACLES["ext_source_boilerplate"] = _BOILER_CTES + """
SELECT source, passage, n_docs, ROUND(frac, 4) AS doc_frac
FROM boiler
ORDER BY source NULLS FIRST, passage NULLS FIRST
"""

ORACLES["ext_remove_source_boilerplate"] = _BOILER_CTES + r""",
posall AS (
  SELECT doc_id, source, CAST(i AS BIGINT) AS start_tok,
         array_to_string(l[i:i+2], ' ') AS g
  FROM pos
),
hits AS (
  SELECT p.doc_id, p.start_tok
  FROM posall p JOIN boiler b ON b.source = p.source AND b.passage = p.g
),
marked AS (
  SELECT doc_id, start_tok,
         CASE WHEN lag(start_tok) OVER w IS NULL
                OR start_tok > lag(start_tok) OVER w + 3 THEN 1 ELSE 0 END AS new_grp
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY start_tok)
),
grps AS (
  SELECT doc_id, start_tok,
         SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY start_tok
                            ROWS UNBOUNDED PRECEDING) AS grp
  FROM marked
),
spans AS (
  SELECT doc_id, MIN(start_tok) AS s, MAX(start_tok) + 3 AS e
  FROM grps GROUP BY doc_id, grp
),
cov AS (SELECT DISTINCT doc_id, unnest(range(s, e)) AS idx FROM spans),
tokpos AS (
  SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS idx FROM toks
),
kept AS (
  SELECT t.doc_id, t.idx, t.term
  FROM tokpos t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.idx = t.idx
  WHERE c.idx IS NULL
),
agg AS (
  SELECT doc_id, string_agg(term, ' ' ORDER BY idx) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
),
orig AS (SELECT doc_id, COALESCE(len(l), 0) AS n FROM toks)
SELECT o.doc_id,
       COALESCE(a.clean_text, '') AS clean_text,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_kept,
       CAST(o.n - COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_removed
FROM orig o LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id NULLS FIRST
"""


def ext_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N9] pairwise source-level shingle Jaccard
    (operators/dedup.py::source_overlap): the provenance audit — which
    sources substantially duplicate each other. Inverted index on the
    8-byte gram hash; pair frame bounded at #sources^2; per-source totals
    broadcast."""
    from dbt_meshify_spark.operators.dedup import source_overlap

    docs = load_table(spark, sf_dir, "documents")
    return (
        source_overlap(docs, shingle_size=3)
        .filter(F.col("n_common") > 0)
        .orderBy(_asc("source_a"), _asc("source_b"))
    )


QUERIES["ext_source_overlap"] = ext_source_overlap

ORACLES["ext_source_overlap"] = r"""
WITH toks AS (
  SELECT source, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
dg AS (
  SELECT DISTINCT source,
         unnest(list_distinct(list_transform(range(1, len(l) - 1),
                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS gram
  FROM toks WHERE len(l) >= 3
),
ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM dg GROUP BY source),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM dg a JOIN dg b ON a.gram = b.gram AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.source_a, p.source_b, p.n_common,
       ROUND(p.n_common / CAST(na.n + nb.n - p.n_common AS DOUBLE), 4) AS jaccard
FROM pairs p
JOIN ps na ON na.source = p.source_a
JOIN ps nb ON nb.source = p.source_b
WHERE p.n_common > 0
ORDER BY source_a NULLS FIRST, source_b NULLS FIRST
"""


def ext_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9, hash-checked] tokenizer fertility audit: per-language
    subword fertility (BPE tokens per whitespace word) and compression
    (chars per BPE token) for the corpus-trained BPE tokenizer — the
    standard tokenizer-fit metric a multilingual curation pipeline tracks
    (high fertility on a language = that language is under-served by the
    vocab). Rides the DELIMITED encoder (apply_bpe_delimited — the same
    merge chain ext_bpe_encode_dist's oracle unrolls bit-exactly), so the
    per-lang aggregates are pure sums over a replayable segmentation and
    the query is oracle-checked, not rows-only. Docs with no words are
    absent on both engines (inner join on the occurrence table)."""
    from dbt_meshify_spark.operators.bpe import (
        apply_bpe_delimited,
        ensure_bpe_merges,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = ensure_bpe_merges(
        spark,
        docs,
        cache_key=f"docs_{sf_dir}",
        n_merges=3,
        source_path=f"{sf_dir.rstrip('/')}/documents.parquet",
    )
    enc = apply_bpe_delimited(docs, merges)
    # n_words counts NON-SPACE RUNS (regexp_count of \S+) — exactly the
    # oracle's occ COUNT(*) of non-empty split segments. A size(split(...))
    # would over-count by one on texts edged with \t/\n (F.trim strips
    # only spaces, leaving an empty segment the oracle excludes).
    meta = docs.select(
        "doc_id",
        "lang",
        F.length("text").cast("bigint").alias("n_chars"),
        F.regexp_count(F.col("text"), F.lit(r"\S+"))
        .cast("bigint")
        .alias("n_words"),
    )
    return (
        enc.join(meta, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_bpe_tokens").cast("double")
                / F.sum("n_words").cast("double"),
                4,
            ).alias("fertility"),
            F.round(
                F.sum("n_chars").cast("double")
                / F.sum("n_bpe_tokens").cast("double"),
                4,
            ).alias("chars_per_token"),
        )
        .orderBy(_asc("lang"))
    )


QUERIES["ext_tokenizer_fertility"] = ext_tokenizer_fertility


def ext_stream_quality_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6/N10] STREAMING drift monitor: the odd-doc_id half of the corpus
    arrives as a file stream, each micro-batch buckets its quality scores
    against the stored (even-half) baseline's edges, and PSI computes over
    the ACCUMULATED additive bucket counts
    (streaming/documents.py::stream_quality_psi). Drained availableNow the
    relation equals the batch score_psi exactly, so it shares
    ext_quality_psi's oracle."""

    from dbt_meshify_spark.operators.text import quality_score
    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_quality_psi,
    )

    docs = load_table(spark, sf_dir, "documents")
    baseline = quality_score(docs.filter(F.col("doc_id") % 2 == 0)).select(
        "doc_id", "quality"
    )
    feed = read_documents_stream(
        spark, f"{sf_dir.rstrip('/')}/documents.parquet"
    ).filter(F.col("doc_id") % 2 == 1)
    out_dir = _stream_scratch("stream_psi_")
    with _batch_width_pin(spark, f"{sf_dir.rstrip('/')}/documents.parquet"):
        out = stream_quality_psi(feed, baseline, out_dir)
    return out.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "n_old",
        "n_new",
        (F.round("p_old", 4) + F.lit(0.0)).alias("p_old"),
        (F.round("p_new", 4) + F.lit(0.0)).alias("p_new"),
        (F.round("psi_term", 4) + F.lit(0.0)).alias("psi_term"),
        (F.round("psi_total", 4) + F.lit(0.0)).alias("psi_total"),
    ).orderBy(_asc("bucket"))


QUERIES["ext_stream_quality_psi"] = ext_stream_quality_psi
ORACLES["ext_stream_quality_psi"] = ORACLES["ext_quality_psi"]


def ext_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6/N-decontam] STREAMING decontamination: the training feed arrives
    as a file stream; each micro-batch semi-joins its gram hashes against
    the broadcast eval gram set (streaming/documents.py::
    stream_decontaminate) — stateless, per-batch cost O(batch). Shares the
    batch ext_decontaminate oracle (drained == batch)."""

    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_decontaminate,
    )

    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 20 == 0)
    feed = read_documents_stream(
        spark, f"{sf_dir.rstrip('/')}/documents.parquet"
    ).filter(F.col("doc_id") % 20 != 0)
    out_dir = _stream_scratch("stream_decontam_")
    with _batch_width_pin(spark, f"{sf_dir.rstrip('/')}/documents.parquet"):
        out = stream_decontaminate(feed, eval_df, out_dir)
    return out.orderBy(_asc("doc_id"))


QUERIES["ext_stream_decontaminate"] = ext_stream_decontaminate
ORACLES["ext_stream_decontaminate"] = ORACLES["ext_decontaminate"]


def ext_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9/N10] curation drop-reason attribution
    (operators/pipeline.py::curation_report): every training doc labeled
    with the FIRST pipeline stage that rejected it (language, quality,
    duplicate, contaminated) or 'kept' — the dataset-card funnel audit.
    Same stage math as ext_curation_pipeline; ids-only marker joins."""
    from dbt_meshify_spark.operators.pipeline import curation_report

    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return curation_report(train, eval_df).orderBy(_asc("doc_id"))


QUERIES["ext_curation_report"] = ext_curation_report

ORACLES["ext_curation_report"] = _curation_sql(
    final="""
SELECT s.doc_id,
       CASE WHEN s.lang_pred IS NULL OR s.quality IS NULL THEN 'malformed'
            WHEN s.lang_pred = 'und' THEN 'language'
            WHEN s.quality < 0.5 THEN 'quality'
            WHEN r.rn > 1 THEN 'duplicate'
            WHEN c.doc_id IS NOT NULL THEN 'contaminated'
            ELSE 'kept' END AS drop_reason,
       s.lang_pred, s.quality
FROM staged s
LEFT JOIN ranked r ON r.doc_id = s.doc_id
LEFT JOIN contaminated c ON c.doc_id = s.doc_id
ORDER BY s.doc_id NULLS FIRST
"""
)


def ext_embedding_cell_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3/N10] semantic drift monitor
    (operators/snapshots.py::embedding_cell_psi): PSI over IVF cell
    occupancy between the even/odd vec_id halves — baseline-frozen coarse
    quantizer, map-only assignment, nlist-row counts into the mergeable
    PSI core. Rows-only by design (k-means cells)."""
    from dbt_meshify_spark.operators.snapshots import embedding_cell_psi

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    out = embedding_cell_psi(old, new, nlist=8)
    return out.select(
        F.col("bucket").cast("bigint").alias("cell"),
        "n_old",
        "n_new",
        (F.round("p_old", 4) + F.lit(0.0)).alias("p_old"),
        (F.round("p_new", 4) + F.lit(0.0)).alias("p_new"),
        (F.round("psi_term", 4) + F.lit(0.0)).alias("psi_term"),
        (F.round("psi_total", 4) + F.lit(0.0)).alias("psi_total"),
    ).orderBy(_asc("cell"))


QUERIES["ext_embedding_cell_psi"] = ext_embedding_cell_psi


def ext_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[O-funnel] TIME-BOUND conversion funnel: a user converts a stage only
    within 48 hours of entering the previous one (view -> click <= 48h ->
    purchase <= 48h after the click) — the attribution-window semantics of
    real funnel analytics, where an eventual purchase a month later does
    NOT count. Same chained per-user min-aggregate plan as the unbounded
    funnel (every shuffle keys on user_id, frames shrink per stage) plus
    conversion rates off the stage counts."""
    events = load_table(spark, sf_dir, "events")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 48 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 48 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    stages = (
        v.select(F.lit("1_view").alias("stage"), "user_id")
        .unionByName(c.select(F.lit("2_click").alias("stage"), "user_id"))
        .unionByName(p.select(F.lit("3_purchase").alias("stage"), "user_id"))
    )
    counts = stages.groupBy("stage").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    entered = F.first("n_users").over(
        Window.orderBy("stage").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    prev = F.lag("n_users").over(Window.orderBy("stage"))
    return (
        counts.withColumn(
            "step_rate",
            F.round(F.col("n_users") / prev.cast("double"), 4),
        )
        .withColumn(
            "overall_rate",
            F.round(F.col("n_users") / entered.cast("double"), 4),
        )
        .orderBy(_asc("stage"))
    )


QUERIES["ext_funnel_windowed"] = ext_funnel_windowed

ORACLES["ext_funnel_windowed"] = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
    AND e.ts <= v.t_view + INTERVAL 48 HOUR
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
    AND e.ts <= c.t_click + INTERVAL 48 HOUR
  GROUP BY e.user_id
),
stages AS (
  SELECT '1_view' AS stage, user_id FROM v
  UNION ALL SELECT '2_click', user_id FROM c
  UNION ALL SELECT '3_purchase', user_id FROM p
),
counts AS (
  SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM stages GROUP BY stage
)
SELECT stage, n_users,
       ROUND(n_users / CAST(LAG(n_users) OVER (ORDER BY stage) AS DOUBLE), 4) AS step_rate,
       ROUND(n_users / CAST(FIRST_VALUE(n_users) OVER (ORDER BY stage
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS overall_rate
FROM counts
ORDER BY stage NULLS FIRST
"""


def ext_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N5/N2] image near-duplicate detection: REAL PPM images synthesized
    deterministically from doc ids (40 base patterns + per-doc pixel
    noise), dHash perceptual fingerprints over the codec-free decode +
    resample kernels, and the shared 64-bit pigeonhole banding
    (operators/multimodal.py::image_neardup_pairs). Rows-only by design
    (the fingerprint has no SQL form); planted-dup invariants in tests."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from dbt_meshify_spark.operators.multimodal import encode_ppm, image_neardup_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 400
    )
    media_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def synth(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                pat = np.random.RandomState(int(did) % 40)
                img = pat.randint(0, 256, size=(16, 24, 3)).astype("uint8")
                # per-doc mild noise: same pattern group stays near-dup
                noise = np.random.RandomState(10_000 + int(did))
                mask = noise.randint(0, 2, size=(16, 24, 1)).astype("uint8")
                img = np.clip(img.astype(int) + 4 * mask, 0, 255).astype("uint8")
                payloads.append(encode_ppm(img))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(synth, media_schema)
    return (
        image_neardup_pairs(media, max_hamming=4)
        .orderBy(_asc("id_a"), _asc("id_b"))
    )


QUERIES["ext_image_neardup"] = ext_image_neardup


def ext_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N5/N2] audio near-duplicate detection: REAL PCM WAV clips
    synthesized deterministically from doc ids (30 envelope patterns,
    per-doc gain + phase jitter), energy-envelope fingerprints over the
    codec-free decode kernel, shared 64-bit banding
    (operators/multimodal.py::audio_neardup_pairs). Rows-only by design;
    gain-invariance and planted-dup invariants in tests."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from dbt_meshify_spark.operators.multimodal import audio_neardup_pairs, encode_wav

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 300
    )
    media_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def synth(batches):
        t = np.arange(4000) / 8000.0
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                g = int(did) % 30
                jit = np.random.RandomState(20_000 + int(did))
                gain = 0.6 + 0.4 * jit.rand()
                phase = 0.05 * jit.rand()
                env = 0.5 + 0.5 * np.sin(2 * np.pi * (2 + g * 0.5) * t + phase)
                wavef = 8000 * gain * np.sin(2 * np.pi * 440 * t) * env
                payloads.append(encode_wav(wavef))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(synth, media_schema)
    return (
        audio_neardup_pairs(media, max_hamming=4)
        .orderBy(_asc("id_a"), _asc("id_b"))
    )


QUERIES["ext_audio_neardup"] = ext_audio_neardup


def ext_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N5/N2] video near-duplicate detection: REAL Y4M clips synthesized
    deterministically from doc ids (20 footage groups; re-encodes and
    trimmed cuts within a group), per-frame dHash over the frame-sampling
    kernel, shared-frame Jaccard pairs
    (operators/multimodal.py::video_neardup_pairs). Rows-only by design;
    trim/re-encode invariants in tests."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from dbt_meshify_spark.operators.multimodal import encode_y4m, video_neardup_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 100
    )
    media_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def synth(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                g = int(did) % 20
                pat = np.random.RandomState(g)
                frames = [
                    pat.randint(0, 256, size=(16, 16, 3)).astype("uint8")
                    for _ in range(6)
                ]
                # some members are trimmed cuts of the group's footage
                if int(did) % 5 == 1:
                    frames = frames[:4]
                payloads.append(encode_y4m(frames))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(synth, media_schema)
    return (
        video_neardup_pairs(media, stride=1, min_jaccard=0.5)
        .orderBy(_asc("id_a"), _asc("id_b"))
    )


QUERIES["ext_video_neardup"] = ext_video_neardup


def ext_stream_self_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6/N1] STREAMING within-doc repetition removal: per-document span
    cut applied micro-batch by micro-batch
    (streaming/documents.py::stream_self_repetition) — verdicts are
    per-doc, so the drained relation equals the batch operator and shares
    ext_self_repetition's oracle."""

    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_self_repetition,
    )

    feed = read_documents_stream(spark, f"{sf_dir.rstrip('/')}/documents.parquet")
    out_dir = _stream_scratch("stream_selfrep_")
    with _batch_width_pin(spark, f"{sf_dir.rstrip('/')}/documents.parquet"):
        out = stream_self_repetition(feed, out_dir)
    return out.orderBy(_asc("doc_id"))


QUERIES["ext_stream_self_repetition"] = ext_stream_self_repetition
ORACLES["ext_stream_self_repetition"] = ORACLES["ext_self_repetition"]


def ext_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] corpus-health audit: least-squares Zipf fit over the top-500
    term frequencies — ln(freq) ~ ln(rank). Natural language sits near
    slope -1; a badly skewed or synthetic corpus drifts off. One term
    aggregate, a TakeOrderedAndProject top-k, and the built-in regr_*
    aggregates (both engines) over 500 rows."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("freq"))
    )
    top = tf.orderBy(F.col("freq").desc(), F.col("term").asc()).limit(500)
    ranked = top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), F.col("term").asc()))
        .cast("double"),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        (F.round(F.expr("regr_slope(ln(freq), ln(rank))"), 4) + F.lit(0.0)).alias(
            "zipf_slope"
        ),
        (
            F.round(F.expr("regr_intercept(ln(freq), ln(rank))"), 4) + F.lit(0.0)
        ).alias("zipf_intercept"),
        (F.round(F.expr("regr_r2(ln(freq), ln(rank))"), 4) + F.lit(0.0)).alias(
            "zipf_r2"
        ),
    )


def ext_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] zlib compression-ratio quality signal
    (operators/text.py::compression_ratio): repetitive/templated text
    compresses far below natural prose. Rows-only by design (no SQL zlib);
    discrimination invariants in tests."""
    from dbt_meshify_spark.operators.text import compression_ratio

    docs = load_table(spark, sf_dir, "documents")
    return compression_ratio(docs).orderBy(_asc("doc_id"))


QUERIES["ext_zipf_fit"] = ext_zipf_fit
QUERIES["ext_compression_quality"] = ext_compression_quality

ORACLES["ext_zipf_fit"] = r"""
WITH tf AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS freq
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        FROM documents)
  GROUP BY term
),
top AS (
  SELECT term, freq FROM tf ORDER BY freq DESC, term ASC LIMIT 500
),
ranked AS (
  SELECT freq,
         CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS DOUBLE) AS rank
  FROM top
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       ROUND(regr_slope(ln(freq), ln(rank)), 4) + 0.0 AS zipf_slope,
       ROUND(regr_intercept(ln(freq), ln(rank)), 4) + 0.0 AS zipf_intercept,
       ROUND(regr_r2(ln(freq), ln(rank)), 4) + 0.0 AS zipf_r2
FROM ranked
"""


def ext_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] Heaps'-law vocabulary growth: distinct-vocabulary size at 5
    corpus prefixes (by doc_id) plus the fitted growth exponent beta from
    ln(vocab) ~ ln(tokens) — natural corpora sit near beta 0.4-0.6;
    template-heavy or synthetic text flattens. ONE corpus pass: vocabulary
    at a prefix = count of terms whose FIRST appearance precedes it, so
    per-term min(doc_id) (one combiner-friendly shuffle) plus per-doc
    token counts feed 5 conditional aggregates — never k prefix re-scans."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term")
    )
    first_seen = toks.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    doc_tokens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    cuts = [100, 200, 300, 400, 500]
    vocab = first_seen.agg(
        *[
            F.sum(F.when(F.col("first_doc") < c, 1).otherwise(0))
            .cast("bigint")
            .alias(f"v{c}")
            for c in cuts
        ]
    )
    tokens = doc_tokens.agg(
        *[
            F.sum(F.when(F.col("doc_id") < c, F.col("n_toks")).otherwise(0))
            .cast("bigint")
            .alias(f"t{c}")
            for c in cuts
        ]
    )
    points = vocab.crossJoin(tokens).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).cast("bigint").alias("prefix_docs"),
                        F.col(f"t{c}").alias("n_tokens"),
                        F.col(f"v{c}").alias("vocab_size"),
                    )
                    for c in cuts
                ]
            )
        ).alias("p")
    ).select("p.*")
    beta = points.agg(
        (
            F.round(
                F.expr(
                    "regr_slope(ln(cast(vocab_size as double)),"
                    " ln(cast(n_tokens as double)))"
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("heaps_beta")
    )
    return (
        points.crossJoin(F.broadcast(beta))
        .select("prefix_docs", "n_tokens", "vocab_size", "heaps_beta")
        .orderBy(_asc("prefix_docs"))
    )


QUERIES["ext_heaps_fit"] = ext_heaps_fit

ORACLES["ext_heaps_fit"] = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
fs AS (SELECT term, MIN(doc_id) AS first_doc FROM toks GROUP BY term),
dt AS (SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id),
cuts AS (SELECT unnest([100, 200, 300, 400, 500]) AS c),
pts AS (
  SELECT CAST(c AS BIGINT) AS prefix_docs,
         CAST((SELECT COALESCE(SUM(n_toks), 0) FROM dt WHERE doc_id < c) AS BIGINT) AS n_tokens,
         CAST((SELECT COUNT(*) FROM fs WHERE first_doc < c) AS BIGINT) AS vocab_size
  FROM cuts
),
b AS (
  SELECT ROUND(regr_slope(ln(CAST(vocab_size AS DOUBLE)),
                          ln(CAST(n_tokens AS DOUBLE))), 4) + 0.0 AS heaps_beta
  FROM pts
)
SELECT prefix_docs, n_tokens, vocab_size, heaps_beta
FROM pts CROSS JOIN b
ORDER BY prefix_docs NULLS FIRST
"""


def ext_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N-temporal] gap-filled hourly resampling with
    last-observation-carried-forward
    (operators/temporal.py::resample_forward_fill): every user gets a
    regular hourly grid between their first and last event, each point
    carrying the latest value at-or-before it — the hypertable
    time_bucket_gapfill + locf shape. Spine explodes off the per-key
    min/max frame, never a corpus-sized generate."""
    from dbt_meshify_spark.operators.temporal import resample_forward_fill

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return (
        resample_forward_fill(events)
        .select("user_id", "bucket", "value", "is_observed")
        .orderBy(_asc("user_id"), _asc("bucket"))
    )


QUERIES["ext_resample_locf"] = ext_resample_locf

ORACLES["ext_resample_locf"] = """
WITH ev AS (
  SELECT user_id, date_trunc('hour', ts) AS b, ts, value
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND user_id < 50
),
obs AS (
  SELECT user_id, b, value FROM (
    SELECT user_id, b, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, b
                              ORDER BY ts DESC, value DESC) AS rn
    FROM ev
  ) WHERE rn = 1
),
mm AS (SELECT user_id, MIN(b) AS lo, MAX(b) AS hi FROM obs GROUP BY user_id),
spine AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b FROM mm
),
j AS (
  SELECT s.user_id, s.b, o.value
  FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.b = s.b
)
SELECT user_id, CAST(b AS TIMESTAMP) AS bucket,
       last_value(value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY b
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       (value IS NOT NULL) AS is_observed
FROM j
ORDER BY user_id NULLS FIRST, bucket NULLS FIRST
"""


def ext_cluster_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N2/N9] dedup observability: the near-dup cluster SIZE
    distribution (how much of the corpus sits in 2-copy vs 10-copy
    clusters) — the number a dedup rollout reports before deleting
    anything. Same trigram-Jaccard pairs + connected components as
    ext_dedup_clusters; two bounded aggregates on top."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5)
    clustered = dedup_clusters(docs, pairs)
    sizes = clustered.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            (F.count(F.lit(1)) * F.col("cluster_size")).cast("bigint").alias("n_docs"),
        )
        .orderBy(_asc("cluster_size"))
    )


def ext_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N-skew] heavy-hitter audit over prospective event join keys
    (operators/skew.py::skew_report): top-5 values of user_id and
    event_type with their share — the pre-join straggler diagnosis. One
    combiner aggregate per column, TakeOrderedAndProject top-k."""
    from dbt_meshify_spark.operators.skew import skew_report

    events = load_table(spark, sf_dir, "events")
    return skew_report(events, ["user_id", "event_type"], k=5).orderBy(
        _asc("column"), _asc("rank")
    )


QUERIES["ext_cluster_size_stats"] = ext_cluster_size_stats
QUERIES["ext_skew_report"] = ext_skew_report

ORACLES["ext_cluster_size_stats"] = f"""
WITH RECURSIVE {_TRIGRAMS_CTE},
counts AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN counts ca ON ca.doc_id = id_a
  JOIN counts cb ON cb.doc_id = id_b
  WHERE inter / (ca.n_grams + cb.n_grams - inter) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src AS id, dst AS peer FROM edges
  UNION
  SELECT r.id, e.dst AS peer FROM reach r JOIN edges e ON r.peer = e.src
),
comp AS (SELECT id, least(id, MIN(peer)) AS component FROM reach GROUP BY id),
labeled AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM labeled GROUP BY cluster_id
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
ORDER BY cluster_size NULLS FIRST
"""

ORACLES["ext_skew_report"] = """
WITH t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM events),
u AS (
  SELECT 'user_id' AS "column", CAST(user_id AS VARCHAR) AS value,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
  ORDER BY n DESC, value ASC NULLS FIRST LIMIT 5
),
e AS (
  SELECT 'event_type' AS "column", CAST(event_type AS VARCHAR) AS value,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type
  ORDER BY n DESC, value ASC NULLS FIRST LIMIT 5
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY "column" ORDER BY n DESC, value ASC NULLS FIRST
  ) AS BIGINT) AS rank
  FROM (SELECT * FROM u UNION ALL SELECT * FROM e)
)
SELECT "column", value, n, ROUND(n / t.total, 4) AS share, rank
FROM ranked CROSS JOIN t
ORDER BY "column" NULLS FIRST, rank NULLS FIRST
"""


def ext_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N-temporal/N10] rolling anomaly over the gap-filled series: each
    user's LOCF-resampled hourly value scored against its own trailing
    24-bucket mean/stddev — the per-entity drift alarm that global hourly
    z-scores (ext_event_anomalies) can't see. Composes
    resample_forward_fill; one additional key-partitioned window, no new
    shuffle key."""
    from dbt_meshify_spark.operators.temporal import resample_forward_fill

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    filled = resample_forward_fill(events)
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(-24, -1)
    )
    mu = F.avg("value").over(w)
    sd = F.stddev_pop("value").over(w)
    # epsilon, not != 0: DuckDB's stddev over an identical-valued window
    # returns a ~1e-15 cancellation residue where Spark returns exact 0 —
    # both engines must agree that a flat window has no z signal
    z = (F.col("value") - mu) / F.when(sd > 1e-9, sd)
    # the rolling mean itself is NOT emitted: a trailing-24 AVG sits on
    # half-ulp rounding boundaries across engines (summation order); the
    # z-score (mean folded into a ratio) rounds stably at 4dp
    # is_anomaly must be NON-nullable: a nullable boolean canonicalizes
    # asymmetrically through pandas (Spark toPandas -> None, DuckDB .df()
    # -> NaN). Cold-start windows (z undefined) are "no signal" => FALSE.
    return (
        filled.withColumn("z", F.round(z, 4) + F.lit(0.0))
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(F.round(z, 4)) >= 3.0, F.lit(False)),
        )
        .select("user_id", "bucket", "value", "z", "is_anomaly")
        .orderBy(_asc("user_id"), _asc("bucket"))
    )


QUERIES["ext_rolling_anomaly"] = ext_rolling_anomaly

ORACLES["ext_rolling_anomaly"] = """
WITH ev AS (
  SELECT user_id, date_trunc('hour', ts) AS b, ts, value
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND user_id < 20
),
obs AS (
  SELECT user_id, b, value FROM (
    SELECT user_id, b, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, b
                              ORDER BY ts DESC, value DESC) AS rn
    FROM ev
  ) WHERE rn = 1
),
mm AS (SELECT user_id, MIN(b) AS lo, MAX(b) AS hi FROM obs GROUP BY user_id),
spine AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b FROM mm
),
j AS (
  SELECT s.user_id, s.b, o.value AS raw
  FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.b = s.b
),
filled AS (
  SELECT user_id, CAST(b AS TIMESTAMP) AS bucket,
         last_value(raw IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
  FROM j
),
scored AS (
  SELECT user_id, bucket, value,
         AVG(value) OVER w AS mu,
         STDDEV_POP(value) OVER w AS sd
  FROM filled
  WINDOW w AS (PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, bucket, value,
       ROUND((value - mu) / (CASE WHEN sd > 1e-9 THEN sd END), 4) + 0.0 AS z,
       COALESCE(ABS(ROUND((value - mu) / (CASE WHEN sd > 1e-9 THEN sd END), 4)) >= 3.0,
                FALSE) AS is_anomaly
FROM scored
ORDER BY user_id NULLS FIRST, bucket NULLS FIRST
"""


def ext_hashed_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3/N4] model-free semantic neighbors: feature-hashed bag-of-words
    embeddings (operators/text.py::hashed_embedding — md5 dims + signs,
    fully engine-replayable) and exact cosine top-3 per document over a
    bounded slice. Ranking uses the ROUNDED cosine with an id tiebreak so
    both engines order identically."""
    from dbt_meshify_spark.operators.text import hashed_embedding

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    emb = hashed_embedding(docs, dims=32)
    a = emb.select(F.col("doc_id").alias("doc_a"), F.col("hvec").alias("va"))
    b = emb.select(F.col("doc_id").alias("doc_b"), F.col("hvec").alias("vb"))
    dots = (
        a.crossJoin(b)
        .filter(F.col("doc_a") != F.col("doc_b"))
        .withColumn(
            "cos_sim",
            F.round(
                F.aggregate(
                    F.zip_with("va", "vb", lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                4,
            )
            + F.lit(0.0),
        )
    )
    w = Window.partitionBy("doc_a").orderBy(
        F.col("cos_sim").desc(), F.col("doc_b").asc()
    )
    return (
        dots.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("doc_a", "doc_b", "cos_sim", "rank")
        .orderBy(_asc("doc_a"), _asc("rank"))
    )


QUERIES["ext_hashed_embedding_topk"] = ext_hashed_embedding_topk

ORACLES["ext_hashed_embedding_topk"] = (
    r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
  FROM documents WHERE doc_id < 200
),
hx AS (SELECT doc_id, md5(t) AS gx FROM toks),
cells AS (
  SELECT doc_id,
         CAST(({HEX8}) AS BIGINT) % 32 AS d,
         SUM(CASE WHEN substr(gx, 9, 1) >= '8' THEN 1.0 ELSE -1.0 END) AS v
  FROM hx GROUP BY doc_id, CAST(({HEX8}) AS BIGINT) % 32
),
norms AS (SELECT doc_id, SQRT(SUM(v * v)) AS n FROM cells GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.v * b.v) AS dot
  FROM cells a JOIN cells b ON a.d = b.d AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
-- zero-norm docs have the zero vector: cosine 0 against everyone; and pairs
-- with NO shared dimension never appear in dots, so rebuild the full pair
-- grid with COALESCE
ids AS (SELECT DISTINCT doc_id FROM (SELECT doc_id FROM documents WHERE doc_id < 200)),
grid AS (
  SELECT i.doc_id AS doc_a, j.doc_id AS doc_b
  FROM ids i JOIN ids j ON i.doc_id <> j.doc_id
),
cosd AS (
  SELECT g.doc_a, g.doc_b,
         ROUND(COALESCE(d.dot / (CASE WHEN na.n > 0 AND nb.n > 0
                                      THEN na.n * nb.n END), 0.0), 4) + 0.0 AS cos_sim
  FROM grid g
  LEFT JOIN dots d ON d.doc_a = g.doc_a AND d.doc_b = g.doc_b
  LEFT JOIN norms na ON na.doc_id = g.doc_a
  LEFT JOIN norms nb ON nb.doc_id = g.doc_b
),
ranked AS (
  SELECT doc_a, doc_b, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_a
                                 ORDER BY cos_sim DESC, doc_b ASC) AS BIGINT) AS rank
  FROM cosd
)
SELECT doc_a, doc_b, cos_sim, rank
FROM ranked WHERE rank <= 3
ORDER BY doc_a NULLS FIRST, rank NULLS FIRST
"""
).replace("{HEX8}", _hex8_sum("gx"))


def ext_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9/N10, hash-checked] active-learning batch selection: the 50
    documents the trained classifier is LEAST sure about (|p - 0.5|
    smallest, doc_id tiebreak) — the annotation-queue builder that makes
    human labels go furthest. Scores come from the NB-posterior tier
    (operators/classifier.py::train_nb_weights + classify_documents),
    whose training AND inference are integer-exact and oracle-replayable;
    the margin is pure arithmetic on the ROUNDED score, so the ranking is
    bit-stable across engines (the logistic sigmoid tier stays the
    rows-only accuracy path — libm exp has no SQL form). Unscorable docs
    (no known terms, NULL score) are excluded: they carry no margin
    signal. The selection plans as TakeOrderedAndProject (per-partition
    heap, no global sort). Oracle-promoted in round 11 (was rows-only on
    the logistic tier)."""
    from dbt_meshify_spark.operators.classifier import (
        classify_documents,
        train_nb_weights,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "is_en", F.col("lang") == F.lit("en")
    )
    w = train_nb_weights(docs, "is_en", max_vocab=20_000)
    scored = classify_documents(docs, w, threshold=0.5).filter(
        F.col("score").isNotNull()
    )
    margin = F.abs(F.col("score") - F.lit(0.5))
    return (
        scored.withColumn("margin", F.round(margin, 4) + F.lit(0.0))
        .orderBy(margin.asc(), F.col("doc_id").asc())
        .limit(50)
        .select("doc_id", "score", "margin")
        .orderBy(_asc("doc_id"))
    )


QUERIES["ext_uncertainty_sample"] = ext_uncertainty_sample


def ext_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N2/N9] SOFT deduplication: instead of dropping near-duplicates,
    every document gets sampling weight 1/cluster_size so each duplicate
    GROUP contributes one document's worth of probability mass — the
    softer published alternative to hard dedup that preserves coverage
    while killing over-representation. Composes the cluster machinery with
    a keys-only size join; the weights feed weighted_sample_k /
    mixture_copies downstream."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5)
    clustered = dedup_clusters(docs, pairs).select("doc_id", "cluster_id")
    sizes = clustered.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        clustered.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (
                F.round(F.lit(1.0) / F.col("cluster_size").cast("double"), 4)
                + F.lit(0.0)
            ).alias("soft_weight"),
        )
        .orderBy(_asc("doc_id"))
    )


QUERIES["ext_soft_dedup_weights"] = ext_soft_dedup_weights

ORACLES["ext_soft_dedup_weights"] = f"""
WITH RECURSIVE {_TRIGRAMS_CTE},
counts AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN counts ca ON ca.doc_id = id_a
  JOIN counts cb ON cb.doc_id = id_b
  WHERE inter / (ca.n_grams + cb.n_grams - inter) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src AS id, dst AS peer FROM edges
  UNION
  SELECT r.id, e.dst AS peer FROM reach r JOIN edges e ON r.peer = e.src
),
comp AS (SELECT id, least(id, MIN(peer)) AS component FROM reach GROUP BY id),
labeled AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM labeled GROUP BY cluster_id
)
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       ROUND(1.0 / CAST(s.cluster_size AS DOUBLE), 4) + 0.0 AS soft_weight
FROM labeled l JOIN sizes s ON s.cluster_id = l.cluster_id
ORDER BY l.doc_id NULLS FIRST
"""


def ext_training_data_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9/N10 flagship composition, hash-checked] the WHOLE engine in one
    declarative plan: curate (normalize -> lang-ID -> quality -> exact
    dedup -> decontaminate) -> DSIR importance weights toward the en slice
    -> best-first fill to a 60k-char training budget (per-priority
    two-phase running total) -> deterministic shard assignment. Every
    stage is individually oracle-checked AND (round 11) the composition
    itself replays end-to-end: the oracle chains the curation CTEs into
    the DSIR CTEs into the running-total fill into the md5 shard fold —
    exactly the way ext_substring_removal chains its pair/span oracles.
    Budget/leak-free/determinism invariants stay in tests."""
    from dbt_meshify_spark.operators.pipeline import training_build_frames

    docs = load_table(spark, sf_dir, "documents")
    _kept, _scored, sharded = training_build_frames(docs)
    return (
        sharded
        .select(
            "doc_id",
            "dsir_logw",
            "n_chars_norm",
            "cum_tokens",
            F.col("shard_id").cast("bigint").alias("shard_id"),
        )
        .orderBy(_asc("doc_id"))
    )


QUERIES["ext_training_data_build"] = ext_training_data_build

# The composed flagship oracle: curation CTEs (shared with
# ext_curation_pipeline via _curation_sql) -> DSIR log-weights over the
# SURVIVORS (same bucket/smoothing math as _DSIR_CTES, re-sourced) ->
# budget running total (ext_token_budget's window form) -> md5 shard fold
# (ext_shard_assign's digit arithmetic, n_shards=8).
ORACLES["ext_training_data_build"] = _curation_sql(
    final=r""",
surv AS (
  SELECT doc_id, text, n_chars_norm
  FROM deduped
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
dj AS (
  SELECT s.doc_id, s.text, s.n_chars_norm, (d.lang = 'en') AS tgt
  FROM surv s JOIN documents d ON d.doc_id = s.doc_id
),
dtoks AS (
  SELECT doc_id, tgt, string_split_regex(trim(lower(text)), '\s+') AS l
  FROM dj
),
dt2 AS (SELECT * FROM dtoks WHERE len(l) >= 2),
dpos AS (SELECT doc_id, tgt, l, unnest(range(1, len(l))) AS i FROM dt2),
dgrams AS (SELECT doc_id, tgt, md5(l[i] || ' ' || l[i+1]) AS gx FROM dpos),
dbk AS (
  SELECT doc_id, tgt, CAST(({HEX8}) AS BIGINT) % 1024 AS b FROM dgrams
),
dtf AS (
  SELECT doc_id, tgt, b, COUNT(*) AS tf FROM dbk GROUP BY doc_id, tgt, b
),
dcnt AS (
  SELECT b, SUM(CASE WHEN tgt THEN tf ELSE 0 END) AS ct, SUM(tf) AS cr
  FROM dtf GROUP BY b
),
dtot AS (
  SELECT CAST(SUM(ct) AS DOUBLE) AS tt, CAST(SUM(cr) AS DOUBLE) AS tr
  FROM dcnt
),
dratio AS (
  SELECT b,
         ln((CAST(ct AS DOUBLE) + 1.0) / (tt + 1024.0))
         - ln((CAST(cr AS DOUBLE) + 1.0) / (tr + 1024.0)) AS lr
  FROM dcnt CROSS JOIN dtot
),
ddw AS (
  SELECT dtf.doc_id, SUM(dtf.tf * dratio.lr) AS logw
  FROM dtf JOIN dratio USING (b) GROUP BY dtf.doc_id
),
dscored AS (
  SELECT s.doc_id, s.n_chars_norm,
         ROUND(COALESCE(ddw.logw, 0.0), 4) + 0.0 AS dsir_logw
  FROM surv s LEFT JOIN ddw ON s.doc_id = ddw.doc_id
),
filled AS (
  SELECT doc_id, dsir_logw, n_chars_norm,
         CAST(SUM(n_chars_norm)
              OVER (ORDER BY dsir_logw DESC, doc_id ASC) AS BIGINT)
           AS cum_tokens
  FROM dscored
  WHERE n_chars_norm IS NOT NULL
),
picked AS (SELECT * FROM filled WHERE cum_tokens <= 60000),
sh AS (
  SELECT doc_id, dsir_logw, n_chars_norm, cum_tokens,
         ((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        + (instr('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        + (instr('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        + (instr('0123456789abcdef', substr(m, 4, 1)) - 1)) % 8 AS shard_id
  FROM (SELECT p.*, md5('s0|' || CAST(doc_id AS VARCHAR)) AS m FROM picked p)
)
SELECT doc_id, dsir_logw, n_chars_norm, cum_tokens,
       CAST(shard_id AS BIGINT) AS shard_id
FROM sh ORDER BY doc_id NULLS FIRST
"""
).replace("{HEX8}", _hex8_sum("gx"))


def ext_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[G-scale] per-user triangle counts over the co-activity graph (users
    active in the same hour, bounded slice) —
    operators/graph_rank.py::triangle_counts: oriented-edge
    canonicalization, two hash-equi joins enumerating each triangle once,
    corner explode-aggregate. The community-density signal next to
    PageRank and connected components."""
    from dbt_meshify_spark.operators.graph_rank import triangle_counts

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    active = events.select(
        F.date_trunc("hour", F.col("ts")).alias("h"), "user_id"
    ).distinct()
    a = active.select("h", F.col("user_id").alias("src"))
    b = active.select("h", F.col("user_id").alias("dst"))
    edges = (
        a.join(b, "h")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return triangle_counts(edges).orderBy(_asc("node"))


QUERIES["ext_triangle_counts"] = ext_triangle_counts

ORACLES["ext_triangle_counts"] = """
WITH au AS (
  SELECT DISTINCT date_trunc('hour', ts) AS h, user_id
  FROM events WHERE user_id < 40
),
e AS (
  SELECT DISTINCT a.user_id AS lo, b.user_id AS hi
  FROM au a JOIN au b ON a.h = b.h AND a.user_id < b.user_id
),
tris AS (
  SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
  FROM e ab
  JOIN e bc ON bc.lo = ab.hi
  JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi
),
corners AS (
  SELECT a AS node FROM tris
  UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY node
ORDER BY node NULLS FIRST
"""


def ext_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[G-scale] k-core peel (k=8, 3 rounds) over the minute-grain user
    co-activity graph — operators/graph_rank.py::kcore: iterative
    min-degree peeling with per-round localCheckpoint and a signature
    early-stop at the fixpoint; pendant chains and periphery users drop,
    the dense interaction core survives. Oracle: the same 3 peel rounds
    unrolled as CTEs (fixed rounds => exact parity at every SF; the
    early-stop only skips provable no-ops)."""
    from dbt_meshify_spark.operators.graph_rank import kcore

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    active = events.select(
        F.date_trunc("minute", F.col("ts")).alias("m"), "user_id"
    ).distinct()
    a = active.select("m", F.col("user_id").alias("src"))
    b = active.select("m", F.col("user_id").alias("dst"))
    edges = (
        a.join(b, "m")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return kcore(edges, k=8, iters=3).orderBy(_asc("id"))


QUERIES["ext_kcore"] = ext_kcore

# 3 unrolled peel rounds, mirroring kcore(k=8, iters=3) exactly
_KCORE_ROUNDS = "".join(
    f"""
und{r} AS (SELECT lo AS u FROM e{r} UNION ALL SELECT hi FROM e{r}),
keep{r} AS (SELECT u FROM und{r} GROUP BY u HAVING COUNT(*) >= 8),
e{r + 1} AS (
  SELECT e.lo, e.hi FROM e{r} e
  JOIN keep{r} a ON e.lo = a.u JOIN keep{r} b ON e.hi = b.u
),"""
    for r in range(3)
)

ORACLES["ext_kcore"] = f"""
WITH am AS (
  SELECT DISTINCT date_trunc('minute', ts) AS m, user_id
  FROM events WHERE user_id < 200
),
e0 AS (
  SELECT DISTINCT a.user_id AS lo, b.user_id AS hi
  FROM am a JOIN am b ON a.m = b.m AND a.user_id < b.user_id
),{_KCORE_ROUNDS}
fin AS (SELECT lo AS u FROM e3 UNION ALL SELECT hi FROM e3)
SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS deg
FROM fin GROUP BY u
ORDER BY id NULLS FIRST
"""


def ext_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9-scale] DISTRIBUTED BPE merge learning over the full corpus
    vocabulary (operators/bpe.py::train_bpe_distributed) — the
    no-sample-cap twin of the driver-side train_bpe: corpus reduces once
    to the Zipf-bounded word-type table, each round is one pair aggregate
    + 1-row argmax + one codegen substring replace. Oracle: the 3 merge
    rounds unrolled as CTEs replaying the identical boundary-delimited
    replace, so training is hash-checked end-to-end."""
    from dbt_meshify_spark.operators.bpe import train_bpe_distributed

    docs = load_table(spark, sf_dir, "documents")
    return train_bpe_distributed(docs, n_merges=3).orderBy(_asc("merge_rank"))


QUERIES["ext_bpe_train"] = ext_bpe_train

# one BPE merge round, unrolled: pair counts over the staged symbol arrays,
# (freq, lhs, rhs)-DESC argmax, boundary-delimited substring replace
_BPE_ROUNDS = "".join(
    f"""
p{r} AS (
  SELECT lhs, rhs, SUM(freq) AS f FROM (
    SELECT freq, arr[i] AS lhs, arr[i + 1] AS rhs FROM (
      SELECT freq, arr, unnest(range(1, len(arr))) AS i
      FROM (SELECT freq, string_split(trim(seq), ' ') AS arr FROM seq{r - 1})
    )
  ) GROUP BY lhs, rhs
),
b{r} AS (SELECT lhs, rhs, f FROM p{r} ORDER BY f DESC, lhs DESC, rhs DESC LIMIT 1),
seq{r} AS (
  SELECT freq, replace(seq,
    ' ' || (SELECT lhs FROM b{r}) || ' ' || (SELECT rhs FROM b{r}) || ' ',
    ' ' || (SELECT lhs FROM b{r}) || (SELECT rhs FROM b{r}) || ' ') AS seq
  FROM seq{r - 1}
),"""
    for r in (1, 2, 3)
)

ORACLES["ext_bpe_train"] = rf"""
WITH words AS (
  SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t FROM documents
  ) WHERE t <> '' GROUP BY t
),
seq0 AS (
  SELECT freq, ' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' </w> ' AS seq
  FROM words
),{_BPE_ROUNDS}
ranked AS (
  SELECT CAST(1 AS INT) AS merge_rank, lhs, rhs, f FROM b1
  UNION ALL SELECT CAST(2 AS INT), lhs, rhs, f FROM b2
  UNION ALL SELECT CAST(3 AS INT), lhs, rhs, f FROM b3
)
SELECT merge_rank, lhs, rhs, lhs || rhs AS merged, CAST(f AS BIGINT) AS freq
FROM ranked
ORDER BY merge_rank NULLS FIRST
"""


def ext_bpe_byte_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9-scale] BYTE-LEVEL BPE merge learning (GPT-2-style tier) over
    the full corpus vocabulary — operators/bpe.py::train_bpe_distributed
    with alphabet="byte": each word-type expands to its UTF-8 bytes as
    lowercase hex-pair symbols (a bijective unicode-safe alphabet — the
    engine-portable stand-in for GPT-2's bytes_to_unicode printable table,
    which is cosmetic to merge semantics), then the IDENTICAL merge
    machinery runs. Handles any script/emoji with a fixed 256-symbol base
    alphabet — the property byte-level BPE exists for. Oracle: same
    unrolled merge rounds as ext_bpe_train over the byte-symbol seq0.
    Round-trip on non-ASCII input is pytest-verified (unhex of
    concatenated symbols restores the word byte-exactly)."""
    from dbt_meshify_spark.operators.bpe import train_bpe_distributed

    docs = load_table(spark, sf_dir, "documents")
    return train_bpe_distributed(docs, n_merges=3, alphabet="byte").orderBy(
        _asc("merge_rank")
    )


QUERIES["ext_bpe_byte_train"] = ext_bpe_byte_train

ORACLES["ext_bpe_byte_train"] = rf"""
WITH words AS (
  SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t FROM documents
  ) WHERE t <> '' GROUP BY t
),
seq0 AS (
  SELECT freq,
         ' ' || trim(regexp_replace(lower(hex(encode(w))), '(..)', '\1 ', 'g'))
           || ' </w> ' AS seq
  FROM words
),{_BPE_ROUNDS}
ranked AS (
  SELECT CAST(1 AS INT) AS merge_rank, lhs, rhs, f FROM b1
  UNION ALL SELECT CAST(2 AS INT), lhs, rhs, f FROM b2
  UNION ALL SELECT CAST(3 AS INT), lhs, rhs, f FROM b3
)
SELECT merge_rank, lhs, rhs, lhs || rhs AS merged, CAST(f AS BIGINT) AS freq
FROM ranked
ORDER BY merge_rank NULLS FIRST
"""


def ext_bpe_byte_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9-scale] hash-checked BYTE-LEVEL BPE encoding: the delimited
    encoder over the hex-pair byte alphabet with the byte-trained merges
    (operators/bpe.py::apply_bpe_delimited(alphabet="byte") — identical
    replace semantics to the char tier, so the oracle unrolls the same
    merge chain over the byte-symbol seq0 and the FULL byte train->encode
    pipeline is hash-checked end-to-end, mirroring ext_bpe_encode_dist).
    Merges serve from the alphabet-keyed ensure_bpe_merges cache."""
    from dbt_meshify_spark.operators.bpe import (
        apply_bpe_delimited,
        ensure_bpe_merges,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = ensure_bpe_merges(
        spark,
        docs,
        cache_key=f"docs_{sf_dir}",
        n_merges=3,
        source_path=f"{sf_dir.rstrip('/')}/documents.parquet",
        alphabet="byte",
    )
    enc = apply_bpe_delimited(docs, merges, alphabet="byte")
    return enc.select(
        "doc_id",
        "n_bpe_tokens",
        F.concat_ws(" ", F.slice("bpe_tokens", 1, 5)).alias("bpe_head"),
    ).orderBy(_asc("doc_id"))


QUERIES["ext_bpe_byte_encode"] = ext_bpe_byte_encode

def ext_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W3/N7 companion] per-session rollup of the 30-minute gap
    sessionization: start, duration, depth, and value total for every
    (user, session) — the session-grain fact table product analytics
    builds on q12's event-grain labels. Same user_id partitioning, so the
    label windows and the rollup share one shuffle."""
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTE")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    labeled = flagged.withColumn("session_id", F.sum("new_session").over(run))
    return (
        labeled.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            ).cast("bigint").alias("duration_sec"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (F.round(F.sum("value"), 2) + F.lit(0.0)).alias("total_value"),
        )
        .orderBy(_asc("user_id"), _asc("session_id"))
    )


QUERIES["ext_session_stats"] = ext_session_stats

ORACLES["ext_session_stats"] = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END
           AS new_session
  FROM events WHERE user_id < 100
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
labeled AS (
  SELECT user_id, ts, value,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       MIN(ts) AS session_start,
       CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_sec,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) + 0.0 AS total_value
FROM labeled GROUP BY user_id, session_id
ORDER BY user_id NULLS FIRST, session_id NULLS FIRST
"""


def ext_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N10] robust outlier detection per event type: modified z-score
    |x - median| / (1.4826 * MAD) with the Iglewicz-Hoaglin 3.5 cut —
    immune to the outliers a mean/stddev z is dragged by. Two grouped
    exact-percentile aggregates joined back (group count is event-type
    cardinality — bounded; the approx tier at 100 TB is
    approx_percentile with the same composition). Zero MAD is
    epsilon-guarded on both engines."""
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = (
        events.join(F.broadcast(med), "event_type")
        .withColumn("absdev", F.abs(F.col("value") - F.col("med")))
        .groupBy("event_type")
        .agg(F.expr("percentile(absdev, 0.5)").alias("mad"))
    )
    scored = (
        events.join(F.broadcast(med), "event_type")
        .join(F.broadcast(dev), "event_type")
    )
    denom = F.lit(1.4826) * F.col("mad")
    z = (F.col("value") - F.col("med")) / F.when(denom > 1e-9, denom)
    flagged = (
        scored.withColumn("robust_z", F.round(z, 4) + F.lit(0.0))
        .withColumn("is_outlier", F.abs(F.round(z, 4)) > 3.5)
        .filter(F.col("is_outlier"))
    )
    return flagged.select(
        "event_id", "event_type", "value", "robust_z"
    ).orderBy(_asc("event_id"))


QUERIES["ext_robust_outliers"] = ext_robust_outliers

ORACLES["ext_robust_outliers"] = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, quantile_cont(ABS(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m ON m.event_type = e.event_type
  GROUP BY e.event_type
),
scored AS (
  SELECT e.event_id, e.event_type, e.value,
         (e.value - m.med) /
         (CASE WHEN 1.4826 * d.mad > 1e-9 THEN 1.4826 * d.mad END) AS z
  FROM events e
  JOIN med m ON m.event_type = e.event_type
  JOIN dev d ON d.event_type = e.event_type
)
SELECT event_id, event_type, value, ROUND(z, 4) + 0.0 AS robust_z
FROM scored
WHERE ABS(ROUND(z, 4)) > 3.5
ORDER BY event_id NULLS FIRST
"""


def ext_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[G-scale] 2-iteration PageRank with dangling-mass redistribution
    over the supplier->customer ships-to graph — customers are pure sinks,
    so this is exactly the graph where the teleport model leaks mass and
    the redistribute model conserves it at 1.0
    (operators/graph_rank.py::pagerank, dangling='redistribute'). Oracle:
    the same two rounds unrolled as CTEs with the per-round dangling-mass
    scalar folded in."""
    from dbt_meshify_spark.operators.graph_rank import pagerank

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # distinct on the INT key pair first (see ext_pagerank): dedup 8-byte
    # pairs, build the string node ids on the distinct frame
    pairs = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select("l_suppkey", "o_custkey")
        .distinct()
    )
    edges = pairs.select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
    )
    return (
        pagerank(edges, iters=2, dangling="redistribute")
        .select("id", F.round("pagerank", 6).alias("pagerank"))
        .orderBy(_asc("id"))
    )


QUERIES["ext_pagerank_dangling"] = ext_pagerank_dangling

ORACLES["ext_pagerank_dangling"] = """
WITH edges AS (
  SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
d1 AS (
  SELECT COALESCE(SUM(r.rank), 0) AS dm
  FROM r0 r LEFT JOIN outdeg d ON r.id = d.src WHERE d.src IS NULL
),
c1 AS (
  SELECT e.dst AS id, SUM(r.rank / d.deg) AS c
  FROM edges e JOIN r0 r ON e.src = r.id JOIN outdeg d ON e.src = d.src
  GROUP BY e.dst
),
r1 AS (
  SELECT nd.id,
         0.15 / (SELECT n FROM nn)
         + 0.85 * (COALESCE(c1.c, 0) + (SELECT dm FROM d1) / (SELECT n FROM nn)) AS rank
  FROM nodes nd LEFT JOIN c1 ON nd.id = c1.id
),
d2 AS (
  SELECT COALESCE(SUM(r.rank), 0) AS dm
  FROM r1 r LEFT JOIN outdeg d ON r.id = d.src WHERE d.src IS NULL
),
c2 AS (
  SELECT e.dst AS id, SUM(r.rank / d.deg) AS c
  FROM edges e JOIN r1 r ON e.src = r.id JOIN outdeg d ON e.src = d.src
  GROUP BY e.dst
),
r2 AS (
  SELECT nd.id,
         0.15 / (SELECT n FROM nn)
         + 0.85 * (COALESCE(c2.c, 0) + (SELECT dm FROM d2) / (SELECT n FROM nn)) AS rank
  FROM nodes nd LEFT JOIN c2 ON nd.id = c2.id
)
SELECT id, ROUND(rank, 6) AS pagerank FROM r2
ORDER BY id NULLS FIRST
"""


def ext_triangle_counts_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[G-scale] the DEGREE-ORIENTED triangle tier against the SAME oracle
    as ext_triangle_counts — both orientations must count every triangle
    exactly once, so the skew-guarded 100 TB path gets full oracle
    correctness evidence, not just the unit hub-graph test."""
    from dbt_meshify_spark.operators.graph_rank import triangle_counts

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    active = events.select(
        F.date_trunc("hour", F.col("ts")).alias("h"), "user_id"
    ).distinct()
    a = active.select("h", F.col("user_id").alias("src"))
    b = active.select("h", F.col("user_id").alias("dst"))
    edges = (
        a.join(b, "h")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return triangle_counts(edges, orient="degree").orderBy(_asc("node"))


QUERIES["ext_triangle_counts_degree"] = ext_triangle_counts_degree

ORACLES["ext_triangle_counts_degree"] = ORACLES["ext_triangle_counts"]


def ext_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N2] directional trigram containment pairs (>=0.8 of the smaller
    side's grams shared) — the doc-inside-doc / quote-inclusion tier
    symmetric Jaccard misses (operators/dedup.py::ngram_containment_pairs).
    Oracle: the trigram inverted-index CTEs with the asymmetric final
    expression."""
    from dbt_meshify_spark.operators.dedup import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(docs, n=3, min_containment=0.8).orderBy(
        _asc("id_a"), _asc("id_b")
    )


QUERIES["ext_ngram_containment"] = ext_ngram_containment

ORACLES["ext_ngram_containment"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
grams0 AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(l) - 1),
                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS gram
  FROM toks
),
-- stop-gram cap mirrored from the operator's max_gram_df=10000: grams in
-- more docs than the cap are dropped from numerator AND denominators
keep AS (
  SELECT gram FROM grams0 GROUP BY gram HAVING COUNT(*) <= 10000
),
grams AS (SELECT g.doc_id, g.gram FROM grams0 g JOIN keep k ON g.gram = k.gram),
counts AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
scored AS (
  SELECT id_a, id_b, n_shared,
         CASE WHEN ca.n_grams < cb.n_grams THEN id_a
              WHEN cb.n_grams < ca.n_grams THEN id_b
              ELSE LEAST(id_a, id_b) END AS inner_id,
         ROUND(n_shared / LEAST(ca.n_grams, cb.n_grams), 4) AS containment
  FROM inter
  JOIN counts ca ON ca.doc_id = id_a
  JOIN counts cb ON cb.doc_id = id_b
)
SELECT id_a, id_b, n_shared, inner_id, containment
FROM scored WHERE containment >= 0.8
ORDER BY id_a NULLS FIRST, id_b NULLS FIRST
"""


def ext_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N2] winnowing-fingerprint partial-overlap pairs (MOSS
    algorithm: per-window min of 5-gram md5-prefix hashes, window 4) —
    the derived-work/plagiarism tier between exact passage dedup and
    whole-doc MinHash (operators/dedup.py::winnow_overlap_pairs). Oracle:
    the same window-min selection replayed with SQL window frames."""
    from dbt_meshify_spark.operators.dedup import winnow_overlap_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnow_overlap_pairs(docs, k=5, window=4, min_shared=2).orderBy(
        _asc("id_a"), _asc("id_b")
    )


QUERIES["ext_winnow_overlap"] = ext_winnow_overlap

ORACLES["ext_winnow_overlap"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
pg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(l) - 3),
         i -> struct_pack(pos := i,
                          h := substring(md5(l[i] || ' ' || l[i+1] || ' ' ||
                                             l[i+2] || ' ' || l[i+3] || ' ' ||
                                             l[i+4]), 1, 8)))) AS g
  FROM toks WHERE len(l) >= 5
),
pos_grams AS (SELECT doc_id, g.pos AS pos, g.h AS h FROM pg),
wmins AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS print
  FROM pos_grams
),
prints0 AS (SELECT DISTINCT doc_id, print FROM wmins),
-- stop-print cap mirrored from the operator's max_print_df=10000
pkeep AS (
  SELECT print FROM prints0 GROUP BY print HAVING COUNT(*) <= 10000
),
prints AS (SELECT p.doc_id, p.print FROM prints0 p JOIN pkeep k ON p.print = k.print),
counts AS (SELECT doc_id, COUNT(*) AS n_prints FROM prints GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM prints a JOIN prints b ON a.print = b.print AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_shared,
       ROUND(n_shared / LEAST(ca.n_prints, cb.n_prints), 4) AS overlap
FROM inter
JOIN counts ca ON ca.doc_id = id_a
JOIN counts cb ON cb.doc_id = id_b
WHERE n_shared >= 2
ORDER BY id_a NULLS FIRST, id_b NULLS FIRST
"""


_TAXONOMY = {
    "relational": ["table", "query", "join", "scan", "filter", "sort"],
    "streaming": ["stream", "window", "batch", "watermark"],
    "execution": ["spark", "hash", "merge", "agg", "vector"],
}


def ext_keyword_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] multi-label keyword-taxonomy tagging
    (operators/text.py::keyword_tag): one tokenize pass + broadcast
    (topic, keyword) join + (doc, topic) aggregate — taxonomy-size-
    independent, unlike the per-marker scan form of language_id. Oracle:
    the token explode + VALUES-table join."""
    from dbt_meshify_spark.operators.text import keyword_tag

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return keyword_tag(docs, _TAXONOMY).orderBy(_asc("doc_id"), _asc("topic"))


QUERIES["ext_keyword_tags"] = ext_keyword_tags

_TAX_VALUES = ", ".join(
    f"('{t}', '{w}')" for t, ws in sorted(_TAXONOMY.items()) for w in sorted(set(ws))
)

ORACLES["ext_keyword_tags"] = rf"""
WITH kw(topic, kw) AS (VALUES {_TAX_VALUES}),
toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
  FROM documents WHERE doc_id < 500
)
SELECT doc_id, topic, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM toks JOIN kw ON t = kw.kw
GROUP BY doc_id, topic
ORDER BY doc_id NULLS FIRST, topic NULLS FIRST
"""


def ext_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N9] per-doc trigram novelty of an incoming batch (doc_id % 2 =
    1) against the standing reference corpus (doc_id % 2 = 0) —
    information-gain scoring for continuous curation
    (operators/snapshots.py::gram_novelty). Near-dups of reference docs
    score ~0; genuinely new text ~1. Oracle: distinct-gram left join."""
    from dbt_meshify_spark.operators.snapshots import gram_novelty

    docs = load_table(spark, sf_dir, "documents")
    reference = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    return gram_novelty(incoming, reference, n=3).orderBy(_asc("doc_id"))


QUERIES["ext_gram_novelty"] = ext_gram_novelty

ORACLES["ext_gram_novelty"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
ref_grams AS (
  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(l) - 1),
                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS gram
  FROM toks WHERE doc_id % 2 = 0
),
new_grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l) - 1),
                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS gram
  FROM toks WHERE doc_id % 2 = 1
),
agg AS (
  SELECT n.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM new_grams n LEFT JOIN ref_grams r ON n.gram = r.gram
  GROUP BY n.doc_id
)
SELECT doc_id, n_grams, n_novel, ROUND(n_novel / n_grams, 4) AS novelty
FROM agg
ORDER BY doc_id NULLS FIRST
"""


def ext_stream_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6/N9] STREAMING novelty scoring: the incoming feed (doc_id % 2 =
    1) arrives as a file stream; each micro-batch joins its grams against
    the standing reference corpus's gram set
    (streaming/documents.py::stream_gram_novelty). Stateless per-doc
    verdicts, so it shares the batch ext_gram_novelty oracle (drained ==
    batch)."""

    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_gram_novelty,
    )

    docs = load_table(spark, sf_dir, "documents")
    reference = docs.filter(F.col("doc_id") % 2 == 0)
    feed = read_documents_stream(
        spark, f"{sf_dir.rstrip('/')}/documents.parquet"
    ).filter(F.col("doc_id") % 2 == 1)
    out_dir = _stream_scratch("stream_novelty_")
    with _batch_width_pin(spark, f"{sf_dir.rstrip('/')}/documents.parquet"):
        out = stream_gram_novelty(feed, reference, out_dir)
    return out.orderBy(_asc("doc_id"))


QUERIES["ext_stream_gram_novelty"] = ext_stream_gram_novelty
ORACLES["ext_stream_gram_novelty"] = ORACLES["ext_gram_novelty"]


def ext_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N5/N2] pHash image near-dup: REAL PPM images (40 base patterns)
    with per-doc BRIGHTNESS/CONTRAST edits — the photometric-edit copies
    the DCT hash is exactly invariant to, where dHash's gradient sign can
    flip (operators/multimodal.py::image_phash_neardup_pairs). Rows-only
    by design (no SQL DCT); invariance proven in unit tests."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from dbt_meshify_spark.operators.multimodal import (
        encode_ppm,
        image_phash_neardup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 400
    )
    media_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def synth(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                pat = np.random.RandomState(int(did) % 40)
                img = pat.randint(0, 200, size=(16, 24, 3)).astype(float)
                # photometric edit per doc: gain + offset (pHash-invariant)
                gain = 0.8 + 0.4 * ((int(did) // 40) % 5) / 4.0
                offset = 5 * (int(did) % 7)
                img = np.clip(img * gain + offset, 0, 255).astype("uint8")
                payloads.append(encode_ppm(img))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(synth, media_schema)
    return (
        image_phash_neardup_pairs(media, max_hamming=4)
        .orderBy(_asc("id_a"), _asc("id_b"))
    )


QUERIES["ext_image_phash_neardup"] = ext_image_phash_neardup


def ext_media_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N5/N10] media-corpus integrity audit: deterministic per-doc
    corruption mix (valid PPM / truncated PPM / dim-mismatched meta /
    empty / junk) classified by
    operators/multimodal.py::media_integrity_report — the pre-training
    data-quality gate for multimodal columns. Rows-only by design (binary
    synth); per-class assertions in unit tests."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from dbt_meshify_spark.operators.multimodal import (
        encode_ppm,
        media_integrity_report,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 500
    )
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("width", T.IntegerType()),
                        T.StructField("height", T.IntegerType()),
                    ]
                ),
            ),
        ]
    )

    def synth(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                img = encode_ppm(
                    np.full((8, 12, 3), did % 251, dtype=np.uint8)
                )
                mode = did % 5
                if mode == 0:
                    rows.append((did, img, {"width": 12, "height": 8}))
                elif mode == 1:
                    rows.append((did, img[: len(img) // 2], None))
                elif mode == 2:
                    rows.append((did, img, {"width": 99, "height": 8}))
                elif mode == 3:
                    rows.append((did, b"", None))
                else:
                    rows.append((did, b"junk" + bytes([did % 256]), None))
            yield pd.DataFrame(rows, columns=["media_id", "payload", "meta"])

    media = docs.mapInPandas(synth, schema)
    return media_integrity_report(media).orderBy(_asc("media_id"))


QUERIES["ext_media_integrity"] = ext_media_integrity


# --- round 4: web-crawl front door + corpus audit family ------------------

#: Deterministic HTML wrapper applied to `documents.text` on BOTH engines —
#: exercises script/style/comment drop, block-tag newlines, entity decode,
#: and title extraction against the same oracle-built payload.
_HTML_SYNTH = (
    "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' &amp; Co</title>"
    "<style>p{color:red}</style></head><body><!-- nav 1 -->' || "
    "CASE WHEN doc_id % 3 = 0 THEN '<script>var x = 1 < 2;</script>' ELSE '' END || "
    "'<h1>Heading ' || CAST(doc_id % 5 AS VARCHAR) || '</h1><p>' || text || "
    "'</p><div>footer &lt;b&gt;&nbsp;' || CAST(doc_id % 7 AS VARCHAR) || "
    "' esc &amp;lt;tag&amp;gt;</div></body></html>'"
)


def ext_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N10] HTML → text extraction (operators/text.py::
    extract_html_text) — the web-crawl front door: script/style/comment
    drop, block tags to newlines, entity decode, title capture; pure
    chained regexp projection, zero shuffle. Oracle: DuckDB replays the
    identical regex pipeline on the identically synthesized HTML."""
    from dbt_meshify_spark.operators.text import extract_html_text

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .withColumn("html", F.expr(_HTML_SYNTH.replace("AS VARCHAR", "AS STRING")))
    )
    return (
        extract_html_text(docs)
        .select("doc_id", "title", "text_extracted")
        .orderBy(_asc("doc_id"))
    )


QUERIES["ext_html_extract"] = ext_html_extract

ORACLES["ext_html_extract"] = rf"""
WITH raw AS (
  SELECT doc_id, {_HTML_SYNTH} AS html
  FROM documents WHERE doc_id < 400
),
s1 AS (SELECT doc_id, html,
       regexp_replace(html, '(?is)<script\b[^>]*>.*?</script>', ' ', 'g') AS h
       FROM raw),
s2 AS (SELECT doc_id, html,
       regexp_replace(regexp_replace(h, '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
                      '(?s)<!--.*?-->', ' ', 'g') AS h FROM s1),
s3 AS (SELECT doc_id, html,
       regexp_replace(h,
         '(?i)</(p|div|li|h[1-6]|tr|table|ul|ol|blockquote)>|<br\s*/?>',
         chr(10), 'g') AS h FROM s2),
s4 AS (SELECT doc_id, html, regexp_replace(h, '(?s)<[^>]+>', ' ', 'g') AS h FROM s3),
s5 AS (SELECT doc_id, html,
       replace(replace(replace(replace(replace(replace(h,
         '&lt;', '<'), '&gt;', '>'),
         '&quot;', '"'), '&#39;', chr(39)), '&nbsp;', ' '),
         '&amp;', '&') AS h FROM s4),
s6 AS (SELECT doc_id, html,
       regexp_replace(regexp_replace(h, '[ ' || chr(9) || chr(11) || chr(12) ||
                                        chr(13) || ']+', ' ', 'g'),
                      ' ?' || chr(10) || '[ ' || chr(10) || ']*', chr(10), 'g')
       AS h FROM s5),
fin AS (SELECT doc_id, regexp_replace(h, '^\s+|\s+$', '', 'g') AS text_extracted,
        replace(replace(replace(replace(replace(replace(
          trim(regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1)),
          '&lt;', '<'), '&gt;', '>'),
          '&quot;', '"'), '&#39;', chr(39)), '&nbsp;', ' '),
          '&amp;', '&') AS title
        FROM s6)
SELECT doc_id, title, text_extracted FROM fin
ORDER BY doc_id NULLS FIRST
"""


#: Per-doc multiscript suffix (deterministic by doc_id) so the script
#: profile exercises non-Latin classes on the ASCII-only test corpus.
_SCRIPT_SUFFIX = (
    "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN ' данные 12' "
    "WHEN 1 THEN ' 数据数据' WHEN 2 THEN ' بيانات' ELSE '' END"
)


def ext_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] Unicode script profile (operators/text.py::script_profile):
    per-doc Latin/Cyrillic/Han/Arabic/digit/whitespace character counts +
    ratios via six codegen regexp passes — the mixed-script/mojibake
    audit lang-ID misses. Oracle: RE2 script classes replay the same
    length-diff counts (class spellings differ — Java \\p{IsLatin} vs
    RE2 \\p{Latin} — semantics agree on these scripts)."""
    from dbt_meshify_spark.operators.text import script_profile

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 600)
        .withColumn("text", F.concat(F.col("text"), F.expr(_SCRIPT_SUFFIX)))
    )
    prof = script_profile(docs)
    keep = ["latin", "cyrillic", "han", "arabic", "digit", "space", "other"]
    return prof.select(
        "doc_id",
        "n_chars_total",
        *[f"n_{k}" for k in keep],
        *[f"ratio_{k}" for k in keep],
    ).orderBy(_asc("doc_id"))


QUERIES["ext_script_profile"] = ext_script_profile

_SP_CLASSES = {
    "latin": r"[\p{Latin}]",
    "cyrillic": r"[\p{Cyrillic}]",
    "han": r"[\p{Han}]",
    "arabic": r"[\p{Arabic}]",
    "digit": "[0-9]",
    "space": r"[\s]",
}
_SP_COUNTS = ",\n       ".join(
    f"CAST(length(t) - length(regexp_replace(t, '{pat}', '', 'g')) AS BIGINT) AS n_{k}"
    for k, pat in _SP_CLASSES.items()
)
_SP_RATIOS = ",\n       ".join(
    f"CASE WHEN n_chars_total > 0 THEN ROUND(n_{k} / n_chars_total, 4) "
    f"ELSE 0.0 END AS ratio_{k}"
    for k in (*_SP_CLASSES, "other")
)

ORACLES["ext_script_profile"] = rf"""
WITH raw AS (
  SELECT doc_id, text || {_SCRIPT_SUFFIX} AS t
  FROM documents WHERE doc_id < 600
),
cnt AS (
  SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars_total,
       {_SP_COUNTS}
  FROM raw
),
wide AS (
  SELECT *, CAST(n_chars_total - (n_latin + n_cyrillic + n_han + n_arabic
                                  + n_digit + n_space) AS BIGINT) AS n_other
  FROM cnt
)
SELECT doc_id, n_chars_total, n_latin, n_cyrillic, n_han, n_arabic, n_digit,
       n_space, n_other,
       {_SP_RATIOS}
FROM wide
ORDER BY doc_id NULLS FIRST
"""


#: Deterministic URL synth: mixed-case scheme/host, www, explicit default
#: port, tracking + surviving params, fragments, trailing slashes, and a
#: malformed-URL class (doc_id % 11 = 0) that must pass through.
_URL_SYNTH = (
    "CASE WHEN doc_id % 11 = 0 THEN 'Not A URL ' || CAST(doc_id AS VARCHAR) "
    "ELSE 'HTTPS://WWW.Example' || CAST(doc_id % 7 AS VARCHAR) || "
    "'.com:443/Path/' || CAST(doc_id % 13 AS VARCHAR) || "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '/' WHEN 1 THEN '' ELSE '/Sub' END || "
    "'?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR) || "
    "CASE WHEN doc_id % 2 = 0 THEN '&fbclid=xyz#frag' ELSE '&q=ok' END END"
)


def ext_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N9] URL canonicalization for crawl dedup (operators/text.py::
    canonicalize_url): lowercase scheme/host, strip www/default port/
    fragment/tracking params/trailing slash — the key-normalization pass
    before URL-level exact dedup. Includes the canonical-key dedup count
    per row so collapsing actually shows. Oracle: identical regex
    pipeline in RE2."""
    from dbt_meshify_spark.operators.text import canonicalize_url

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1000)
        .withColumn("url", F.expr(_URL_SYNTH.replace("AS VARCHAR", "AS STRING")))
    )
    canon = canonicalize_url(docs)
    sizes = canon.groupBy("url_canonical").agg(
        F.count(F.lit(1)).cast("long").alias("n_same_target")
    )
    return (
        canon.join(sizes, "url_canonical")
        .select("doc_id", "url_canonical", "n_same_target")
        .orderBy(_asc("doc_id"))
    )


QUERIES["ext_url_canonicalize"] = ext_url_canonicalize

ORACLES["ext_url_canonicalize"] = rf"""
WITH raw AS (
  SELECT doc_id, {_URL_SYNTH} AS url
  FROM documents WHERE doc_id < 1000
),
parts AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(regexp_replace(
      lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
      '^www\.', ''), ':(80|443)$', '') AS host,
    regexp_replace(
      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      '/$', '') AS path0,
    regexp_replace(regexp_replace(regexp_replace(
      regexp_extract(url, '\?([^#]*)', 1),
      '(^|&)(?:utm_[^=&]*|gclid|fbclid|msclkid|ref|mc_eid)=[^&]*', '\1', 'g'),
      '&&+', '&', 'g'), '^&|&$', '', 'g') AS q
  FROM raw
),
canon AS (
  SELECT doc_id,
    CASE WHEN scheme = '' THEN lower(url)
         ELSE scheme || '://' || host ||
              CASE WHEN path0 = '' THEN '/' ELSE path0 END ||
              CASE WHEN q = '' THEN '' ELSE '?' || q END
    END AS url_canonical
  FROM parts
)
SELECT doc_id, url_canonical,
       CAST(COUNT(*) OVER (PARTITION BY url_canonical) AS BIGINT) AS n_same_target
FROM canon
ORDER BY doc_id NULLS FIRST
"""


#: Deterministic chat-JSON synth: 2–4 turns sliced from `text`, a
#: wrong-first-role class (doc_id % 17 = 0) and a blank-turn class
#: (doc_id % 19 = 0); word-soup text is JSON-safe by construction.
_CONV_SYNTH = (
    "'[{{\"role\":\"' || CASE WHEN doc_id % 17 = 0 THEN 'system' ELSE 'user' END || "
    "'\",\"content\":\"' || substr(text, 1, 15) || '\"}},"
    "{{\"role\":\"assistant\",\"content\":\"' || "
    "CASE WHEN doc_id % 19 = 0 THEN ' ' ELSE substr(text, 16, 15) END || '\"}}' || "
    "CASE WHEN doc_id % 3 >= 1 THEN ',{{\"role\":\"user\",\"content\":\"' || "
    "substr(text, 31, 15) || '\"}}' ELSE '' END || "
    "CASE WHEN doc_id % 3 = 2 THEN ',{{\"role\":\"assistant\",\"content\":\"' || "
    "substr(text, 46, 15) || '\"}}' ELSE '' END || ']'"
).format()


def ext_conversation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] instruction/chat-data validation (operators/text.py::
    conversation_stats): from_json over the turn array + HOF structural
    checks — turn count, role alternation, first/last speaker, content
    mass, empty-turn defects, and the SFT validity verdict. Oracle:
    DuckDB json_transform to a struct list + list-lambda replay."""
    from dbt_meshify_spark.operators.text import conversation_stats

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 500) & F.col("text").isNotNull())
        .withColumn("conversation", F.expr(_CONV_SYNTH))
    )
    return conversation_stats(docs).orderBy(_asc("doc_id"))


QUERIES["ext_conversation_stats"] = ext_conversation_stats

ORACLES["ext_conversation_stats"] = rf"""
WITH raw AS (
  SELECT doc_id, {_CONV_SYNTH} AS conversation
  FROM documents WHERE doc_id < 500 AND text IS NOT NULL
),
parsed AS (
  SELECT doc_id,
    json_transform(conversation,
      '[{{"role":"VARCHAR","content":"VARCHAR"}}]') AS l
  FROM raw
),
facts AS (
  SELECT doc_id,
    CAST(len(l) AS BIGINT) AS n_turns,
    l[1].role AS first_role,
    l[len(l)].role AS last_role,
    CAST(list_sum(list_transform(l, x -> length(x.content))) AS BIGINT)
      AS total_chars,
    CAST(len(list_filter(l, x -> trim(x.content) = '')) AS BIGINT)
      AS n_empty_turns,
    (len(l) <= 1 OR NOT list_contains(
       list_transform(range(1, len(l)), i -> l[i].role = l[i + 1].role), true))
      AS alternating,
    len(list_filter(l, x -> x.role IN ('user', 'assistant'))) = len(l)
      AS roles_known
  FROM parsed
)
SELECT doc_id, n_turns, first_role, last_role, total_chars, n_empty_turns,
       (n_turns >= 2 AND first_role = 'user' AND last_role = 'assistant'
        AND alternating AND roles_known AND n_empty_turns = 0) AS is_valid
FROM facts
ORDER BY doc_id NULLS FIRST
"""


def ext_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9/N10] corpus concentration audit (operators/skew.py::
    concentration_report): Gini + normalized HHI of character mass
    across sources — the dataset-card diversity numbers. One combiner
    aggregate to a source-cardinality frame; rank window + fold on that
    tiny frame only. Oracle: the same rank identity in SQL (weights are
    integral, so every double aggregate is exact)."""
    from dbt_meshify_spark.operators.skew import concentration_report

    docs = load_table(spark, sf_dir, "documents")
    return concentration_report(docs, "source", "n_chars")


QUERIES["ext_source_concentration"] = ext_source_concentration

ORACLES["ext_source_concentration"] = r"""
WITH per AS (
  SELECT source, CAST(SUM(COALESCE(n_chars, 0)) AS DOUBLE) AS w
  FROM documents GROUP BY source
),
r AS (
  SELECT w, ROW_NUMBER() OVER (ORDER BY w ASC, source ASC) AS i FROM per
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(w) AS DOUBLE) AS total_weight,
       ROUND(2.0 * SUM(i * w) / (COUNT(*) * SUM(w))
             - (COUNT(*) + 1.0) / COUNT(*), 4) AS gini,
       ROUND((SUM(w * w) / (SUM(w) * SUM(w)) - 1.0 / COUNT(*))
             / (1.0 - 1.0 / COUNT(*)), 4) AS hhi_norm
FROM r
"""


def ext_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N3/N9] margin-based parallel-pair mining (operators/similarity.py::
    bitext_mine) — the LASER/CCMatrix ratio-margin recipe: mutual top-1 by
    cos normalized against each endpoint's k-NN mean, demoting hub
    vectors raw cosine over-matches. Sides = embeddings split by vec_id
    parity. Oracle: full margin replay — margins are ratios of
    integer-exact sums of 4dp-rounded cosines, so no float tolerance is
    needed anywhere."""
    from dbt_meshify_spark.operators.similarity import bitext_mine

    emb = load_table(spark, sf_dir, "embeddings")
    X = emb.filter(F.col("vec_id") % 2 == 0)
    Y = emb.filter(F.col("vec_id") % 2 == 1)
    return bitext_mine(X, Y, k=4, margin_threshold=1.1).orderBy(_asc("src_id"))


QUERIES["ext_bitext_mine"] = ext_bitext_mine

ORACLES["ext_bitext_mine"] = r"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
sims AS (
  SELECT s.vec_id AS sid, t.vec_id AS tid,
         list_dot_product(s.e, t.e) /
         (sqrt(list_dot_product(s.e, s.e)) * sqrt(list_dot_product(t.e, t.e))
          + 1e-12) AS cs
  FROM v s JOIN v t ON s.vec_id % 2 = 0 AND t.vec_id % 2 = 1
),
fk AS (
  SELECT * FROM (
    SELECT sid, tid, ROUND(ROUND(cs, 4) * 10000) AS c_int,
           ROW_NUMBER() OVER (PARTITION BY sid ORDER BY cs DESC, tid ASC) AS rk
    FROM sims) WHERE rk <= 4
),
bk AS (
  SELECT * FROM (
    SELECT sid, tid, ROUND(ROUND(cs, 4) * 10000) AS c_int,
           ROW_NUMBER() OVER (PARTITION BY tid ORDER BY cs DESC, sid ASC) AS rk
    FROM sims) WHERE rk <= 4
),
cands AS (
  SELECT DISTINCT sid, tid, c_int FROM
  (SELECT sid, tid, c_int FROM fk UNION ALL SELECT sid, tid, c_int FROM bk)
),
asrc AS (SELECT sid, SUM(c_int) AS a_src, CAST(COUNT(*) AS DOUBLE) AS n_src
         FROM fk GROUP BY sid),
atgt AS (SELECT tid, SUM(c_int) AS a_tgt, CAST(COUNT(*) AS DOUBLE) AS n_tgt
         FROM bk GROUP BY tid),
scored AS (
  SELECT c.sid, c.tid, c.c_int,
         2.0 * c.c_int / (a_src / n_src + a_tgt / n_tgt) AS margin
  FROM cands c JOIN asrc USING (sid) JOIN atgt USING (tid)
),
ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY sid ORDER BY margin DESC, tid ASC) AS r1,
    ROW_NUMBER() OVER (PARTITION BY tid ORDER BY margin DESC, sid ASC) AS r2
  FROM scored
)
SELECT sid AS src_id, tid AS tgt_id, c_int / 10000 AS cos_sim,
       ROUND(margin, 4) AS margin
FROM ranked WHERE r1 = 1 AND r2 = 1 AND margin >= 1.1
ORDER BY src_id NULLS FIRST
"""


def ext_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N-decontam/N3] semantic benchmark decontamination
    (operators/decontam.py::semantic_contamination): per-corpus-item max
    cosine against the eval set (vec_id % 10 = 0) with the contamination
    verdict — the paraphrase-leakage tier lexical 13-gram decontam
    misses. Flag computed from the ROUNDED max on both engines. Oracle:
    exact max-cosine replay (MAX is order-independent — no float
    tolerance needed)."""
    from dbt_meshify_spark.operators.decontam import semantic_contamination

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    eval_vecs = emb.filter(F.col("vec_id") % 10 == 0)
    return semantic_contamination(corpus, eval_vecs, threshold=0.35).orderBy(
        _asc("vec_id")
    )


QUERIES["ext_semantic_decontaminate"] = ext_semantic_decontaminate

ORACLES["ext_semantic_decontaminate"] = r"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
sims AS (
  SELECT c.vec_id AS vid,
         list_dot_product(c.e, t.e) /
         (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(t.e, t.e))
          + 1e-12) AS cs
  FROM v c JOIN v t ON c.vec_id % 10 != 0 AND t.vec_id % 10 = 0
),
m AS (SELECT vid, ROUND(MAX(cs), 4) AS max_eval_cos FROM sims GROUP BY vid)
SELECT vid AS vec_id, max_eval_cos, max_eval_cos >= 0.35 AS contaminated
FROM m ORDER BY vec_id NULLS FIRST
"""


#: Deterministic DPO-record synth: prompt/chosen/rejected sliced from
#: `text`, an identical-pair class (doc_id % 13 = 0) and a blank-rejected
#: class (doc_id % 7 = 0). Word-soup text is JSON-safe by construction.
_PREF_SYNTH = (
    "'{\"prompt\":\"' || substr(text, 1, 20) || "
    "'\",\"chosen\":\"' || substr(text, 21, 25) || '\",\"rejected\":\"' || "
    "CASE WHEN doc_id % 13 = 0 THEN substr(text, 21, 25) "
    "WHEN doc_id % 7 = 0 THEN '' "
    "ELSE substr(text, 46, 25) END || '\"}'"
)


def ext_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] preference-data (DPO/RLHF) validation (operators/text.py::
    preference_pair_stats): per-record field lengths, the identical-pair
    defect (zero preference signal), blank fields, validity verdict —
    from_json + scalar projections, zero shuffle. Oracle: DuckDB
    json_extract_string replay over identically synthesized records."""
    from dbt_meshify_spark.operators.text import preference_pair_stats

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 600) & F.col("text").isNotNull())
        .withColumn("preference", F.expr(_PREF_SYNTH))
    )
    return preference_pair_stats(docs).orderBy(_asc("doc_id"))


QUERIES["ext_preference_pairs"] = ext_preference_pairs

ORACLES["ext_preference_pairs"] = (
    "WITH raw AS (\n"
    "  SELECT doc_id, " + _PREF_SYNTH + " AS j\n"
    "  FROM documents WHERE doc_id < 600 AND text IS NOT NULL\n"
    "),\n"
    "f AS (\n"
    "  SELECT doc_id,\n"
    "    json_extract_string(j, '$.prompt') AS p,\n"
    "    json_extract_string(j, '$.chosen') AS c,\n"
    "    json_extract_string(j, '$.rejected') AS r\n"
    "  FROM raw\n"
    "),\n"
    "facts AS (\n"
    "  SELECT doc_id, true AS parsed,\n"
    "    CAST(length(p) AS BIGINT) AS prompt_chars,\n"
    "    CAST(length(c) AS BIGINT) AS chosen_chars,\n"
    "    CAST(length(r) AS BIGINT) AS rejected_chars,\n"
    "    COALESCE(c = r, false) AS identical_pair,\n"
    "    CAST((CASE WHEN p IS NULL OR trim(p) = '' THEN 1 ELSE 0 END)\n"
    "       + (CASE WHEN c IS NULL OR trim(c) = '' THEN 1 ELSE 0 END)\n"
    "       + (CASE WHEN r IS NULL OR trim(r) = '' THEN 1 ELSE 0 END)\n"
    "       AS BIGINT) AS n_blank_fields\n"
    "  FROM f\n"
    ")\n"
    "SELECT doc_id, parsed, prompt_chars, chosen_chars, rejected_chars,\n"
    "       identical_pair, n_blank_fields,\n"
    "       (parsed AND n_blank_fields = 0 AND NOT identical_pair) AS is_valid\n"
    "FROM facts ORDER BY doc_id NULLS FIRST\n"
)


def ext_stream_conversation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6/N4] STREAMING SFT-data gate: the conversation validity contract
    applied to an unbounded chat-record feed and drained availableNow —
    stateless projection per micro-batch, shares ext_conversation_stats'
    synth + verdict logic filtered to keepers
    (streaming/documents.py::stream_conversation_filter)."""

    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_conversation_filter,
    )

    feed = (
        read_documents_stream(spark, f"{sf_dir.rstrip('/')}/documents.parquet")
        .filter((F.col("doc_id") < 500) & F.col("text").isNotNull())
        .withColumn("conversation", F.expr(_CONV_SYNTH))
    )
    out_dir = _stream_scratch("stream_conv_")
    drained = stream_conversation_filter(feed, out_dir)
    return drained.orderBy(_asc("doc_id"))


QUERIES["ext_stream_conversation_filter"] = ext_stream_conversation_filter

ORACLES["ext_stream_conversation_filter"] = rf"""
WITH raw AS (
  SELECT doc_id, {_CONV_SYNTH} AS conversation
  FROM documents WHERE doc_id < 500 AND text IS NOT NULL
),
parsed AS (
  SELECT doc_id,
    json_transform(conversation,
      '[{{"role":"VARCHAR","content":"VARCHAR"}}]') AS l
  FROM raw
),
facts AS (
  SELECT doc_id,
    CAST(len(l) AS BIGINT) AS n_turns,
    l[1].role AS first_role,
    l[len(l)].role AS last_role,
    CAST(list_sum(list_transform(l, x -> length(x.content))) AS BIGINT)
      AS total_chars,
    CAST(len(list_filter(l, x -> trim(x.content) = '')) AS BIGINT)
      AS n_empty_turns,
    (len(l) <= 1 OR NOT list_contains(
       list_transform(range(1, len(l)), i -> l[i].role = l[i + 1].role), true))
      AS alternating,
    len(list_filter(l, x -> x.role IN ('user', 'assistant'))) = len(l)
      AS roles_known
  FROM parsed
)
SELECT doc_id, n_turns, total_chars
FROM facts
WHERE n_turns >= 2 AND first_role = 'user' AND last_role = 'assistant'
      AND alternating AND roles_known AND n_empty_turns = 0
ORDER BY doc_id NULLS FIRST
"""


#: Deterministic code/markdown/LaTeX/fence suffixes by doc_id class.
#: Newlines and backslashes are built with chr() so the literal parses
#: identically under Spark SQL (escape-processing) and DuckDB (literal)
#: string rules.
_CODE_SYNTH = (
    "text || CASE CAST(doc_id % 5 AS INT) "
    "WHEN 0 THEN chr(10) || 'def f(x):' || chr(10) || "
    "'    return {x: 1};' || chr(10) || '    y = a<b>(c)' "
    "WHEN 1 THEN chr(10) || '# Title' || chr(10) || '## Sub' || chr(10) || 'prose' "
    "WHEN 2 THEN chr(10) || chr(92) || 'begin{eq} x ' || chr(92) || 'alpha ' "
    "|| chr(92) || 'end{eq}' "
    "WHEN 3 THEN chr(10) || '```' || chr(10) || 'fenced()' || chr(10) || '```' "
    "ELSE '' END"
)


def ext_code_markup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] code/markup detection profile (operators/text.py::
    code_markup_profile): indented-line/header fractions, code-symbol
    density, fence and LaTeX-command counts with rounded-ratio verdicts —
    the mixture router separating code from prose. (?m)-anchored
    regexp_count over raw text: no split, no explode. Oracle: RE2
    regexp_extract_all replay on identically synthesized suffixes."""
    from dbt_meshify_spark.operators.text import code_markup_profile

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 600)
        .withColumn("text", F.expr(_CODE_SYNTH))
    )
    return code_markup_profile(docs).select(
        "doc_id", "n_lines", "indent_frac", "header_frac", "sym_density",
        "n_fences", "n_latex_cmds", "is_code_like", "is_markup_like",
    ).orderBy(_asc("doc_id"))


QUERIES["ext_code_markup_profile"] = ext_code_markup_profile

ORACLES["ext_code_markup_profile"] = (
    "WITH raw AS (\n"
    "  SELECT doc_id, " + _CODE_SYNTH + " AS t\n"
    "  FROM documents WHERE doc_id < 600\n"
    "),\n"
    "cnt AS (\n"
    "  SELECT doc_id,\n"
    "    CAST(length(t) - length(replace(t, chr(10), '')) + 1 AS BIGINT)\n"
    "      AS n_lines,\n"
    "    CAST(len(regexp_extract_all(t, '(?m)^(' || chr(9) || '|    )'))\n"
    "      AS BIGINT) AS indent_lines,\n"
    "    CAST(len(regexp_extract_all(t, '(?m)^#{1,6} ')) AS BIGINT)\n"
    "      AS header_lines,\n"
    "    CAST(length(t) - length(regexp_replace(t, '[{}();=<>\\[\\]]', '', 'g'))\n"
    "      AS BIGINT) AS sym_chars,\n"
    "    CAST((length(t) - length(replace(t, '```', ''))) / 3 AS BIGINT)\n"
    "      AS n_fences,\n"
    "    CAST(len(regexp_extract_all(t, chr(92) || chr(92) || '[a-zA-Z]+'))\n"
    "      AS BIGINT) AS n_latex_cmds,\n"
    "    CAST(length(t) AS BIGINT) AS n_chars\n"
    "  FROM raw\n"
    "),\n"
    "wide AS (\n"
    "  SELECT doc_id, n_lines,\n"
    "    ROUND(indent_lines / n_lines, 4) AS indent_frac,\n"
    "    ROUND(header_lines / n_lines, 4) AS header_frac,\n"
    "    CASE WHEN n_chars > 0 THEN ROUND(sym_chars / n_chars, 4)\n"
    "         ELSE 0.0 END AS sym_density,\n"
    "    n_fences, n_latex_cmds\n"
    "  FROM cnt\n"
    ")\n"
    "SELECT *,\n"
    "  (sym_density >= 0.02 OR indent_frac >= 0.2 OR n_fences >= 1)\n"
    "    AS is_code_like,\n"
    "  (header_frac >= 0.1 OR n_latex_cmds >= 2) AS is_markup_like\n"
    "FROM wide ORDER BY doc_id NULLS FIRST\n"
)


#: Echo-planted chat synth: doc_id % 9 = 0 full echo (assistant repeats the
#: user turn verbatim), % 9 = 1 half echo (first 30 chars shared), else
#: disjoint slices.
_ECHO_SYNTH = (
    "'[{\"role\":\"user\",\"content\":\"' || substr(text, 1, 60) || "
    "'\"},{\"role\":\"assistant\",\"content\":\"' || "
    "CASE WHEN doc_id % 9 = 0 THEN substr(text, 1, 60) "
    "WHEN doc_id % 9 = 1 THEN substr(text, 1, 30) || substr(text, 61, 30) "
    "ELSE substr(text, 61, 60) END || '\"}]'"
)


def ext_turn_echo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] response-echo detection (operators/text.py::
    turn_echo_scores): per-assistant-turn fraction of distinct trigrams
    already in the preceding user turn, max per conversation — the
    zero-signal SFT defect synthetic generators produce. Overlap is one
    (id, gram) equi-join over the exploded gram table (no per-row set
    lambdas). Oracle: DuckDB json_transform + gram CTE replay."""
    from dbt_meshify_spark.operators.text import turn_echo_scores

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 500) & F.col("text").isNotNull())
        .withColumn("conversation", F.expr(_ECHO_SYNTH))
    )
    return turn_echo_scores(docs).orderBy(_asc("doc_id"))


QUERIES["ext_turn_echo"] = ext_turn_echo

ORACLES["ext_turn_echo"] = rf"""
WITH raw AS (
  SELECT doc_id, {_ECHO_SYNTH} AS conversation
  FROM documents WHERE doc_id < 500 AND text IS NOT NULL
),
parsed AS (
  SELECT doc_id, json_transform(conversation,
    '[{{"role":"VARCHAR","content":"VARCHAR"}}]') AS l
  FROM raw
),
turns AS (
  SELECT doc_id, s.pos AS pos, s.role AS role,
         string_split_regex(trim(lower(s.content)), '\s+') AS toks
  FROM (SELECT doc_id, unnest(list_transform(range(1, len(l) + 1),
          i -> struct_pack(pos := i, role := l[i].role,
                           content := l[i].content))) AS s
        FROM parsed)
),
grams AS (
  SELECT DISTINCT doc_id, pos, role,
    unnest(list_distinct(list_transform(range(1, len(toks) - 1),
      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
  FROM turns WHERE len(toks) >= 3
),
asst AS (SELECT doc_id, pos AS apos, gram FROM grams WHERE role = 'assistant'),
usr AS (SELECT doc_id, pos AS upos, gram FROM grams WHERE role = 'user'),
shared AS (
  SELECT a.doc_id, a.apos, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM asst a JOIN usr u ON a.doc_id = u.doc_id AND a.gram = u.gram
                         AND u.upos = a.apos - 1
  GROUP BY a.doc_id, a.apos
),
totals AS (
  SELECT doc_id, apos, CAST(COUNT(*) AS BIGINT) AS n_grams
  FROM asst GROUP BY doc_id, apos
),
per_turn AS (
  SELECT t.doc_id, COALESCE(s.n_shared, 0) / t.n_grams AS echo
  FROM totals t LEFT JOIN shared s ON s.doc_id = t.doc_id AND s.apos = t.apos
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored_turns,
         ROUND(MAX(echo), 4) AS max_echo
  FROM per_turn GROUP BY doc_id
)
SELECT r.doc_id, COALESCE(p.n_scored_turns, 0) AS n_scored_turns,
       COALESCE(p.max_echo, 0.0) AS max_echo,
       COALESCE(p.max_echo, 0.0) >= 0.5 AS is_echo
FROM raw r LEFT JOIN per_doc p ON r.doc_id = p.doc_id
ORDER BY r.doc_id NULLS FIRST
"""


def ext_user_activity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[O/N10] per-user activity audit + bot-suspect ranking
    (operators/temporal.py::user_activity_report): inter-arrival
    percentiles, burst fraction, deterministic fastest-median ranking —
    the behavioral-data screen. One user-keyed shuffle; rank over the
    user-cardinality frame. Oracle: lag + quantile_cont replay (gaps are
    exact µs integers / 1e6, so interpolation is bit-identical)."""
    from dbt_meshify_spark.operators.temporal import user_activity_report

    events = load_table(spark, sf_dir, "events")
    return user_activity_report(events).orderBy(_asc("user_id"))


QUERIES["ext_user_activity_audit"] = ext_user_activity_audit

ORACLES["ext_user_activity_audit"] = r"""
WITH g AS (
  SELECT user_id,
         (epoch_us(ts) - lag(epoch_us(ts))
            OVER (PARTITION BY user_id ORDER BY ts, event_id)) / 1e6 AS gap_s
  FROM events
),
per_user AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
         ROUND(quantile_cont(gap_s, 0.5), 4) AS median_gap_s,
         ROUND(quantile_cont(gap_s, 0.9), 4) AS p90_gap_s,
         ROUND(SUM(CASE WHEN gap_s <= 3600.0 THEN 1 ELSE 0 END)
               / GREATEST(COUNT(gap_s), 1), 4) AS burst_frac
  FROM g GROUP BY user_id
)
SELECT *, CAST(ROW_NUMBER() OVER (
         ORDER BY median_gap_s ASC NULLS LAST, user_id ASC) AS BIGINT)
       AS suspect_rank
FROM per_user
ORDER BY user_id NULLS FIRST
"""


def ext_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[G-scale] 2-round synchronous label-propagation communities over the
    supplier→customer ships-to graph (operators/graph_rank.py::
    label_propagation) — density-based grouping a connected-components
    pass can't give (spam rings are dense subgraphs, not just reachable
    ones). Deterministic: sync updates + (count desc, label asc) tie
    order. Oracle: the two rounds unrolled as CTEs, pagerank discipline."""
    from dbt_meshify_spark.operators.graph_rank import label_propagation

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # distinct on the INT key pair first — the shuffle dedups 8-byte pairs
    # instead of concatenated strings; the string node ids are built on
    # the ~10x-smaller distinct frame
    pairs = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select("l_suppkey", "o_custkey")
        .distinct()
    )
    edges = pairs.select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
    )
    return label_propagation(edges, iters=2).orderBy(_asc("id"))


QUERIES["ext_label_propagation"] = ext_label_propagation

ORACLES["ext_label_propagation"] = r"""
WITH raw AS (
  SELECT 's' || CAST(l_suppkey AS VARCHAR) AS u,
         'c' || CAST(o_custkey AS VARCHAR) AS v
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (
  SELECT DISTINCT u, v FROM raw
  WHERE u IS NOT NULL AND v IS NOT NULL AND u != v
),
und AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
l0 AS (SELECT DISTINCT u AS id FROM und),
v1 AS (
  SELECT u, community, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT und.u, l.community
    FROM und JOIN (SELECT id, id AS community FROM l0) l ON und.v = l.id
    UNION ALL SELECT id AS u, id AS community FROM l0
  ) GROUP BY u, community
),
b1 AS (
  SELECT u AS id, community FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY u ORDER BY n DESC, community ASC) AS rk FROM v1)
  WHERE rk = 1
),
v2 AS (
  SELECT u, community, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT und.u, b1.community FROM und JOIN b1 ON und.v = b1.id
    UNION ALL SELECT id AS u, community FROM b1
  ) GROUP BY u, community
),
b2 AS (
  SELECT u AS id, community FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY u ORDER BY n DESC, community ASC) AS rk FROM v2)
  WHERE rk = 1
)
SELECT id, community FROM b2
ORDER BY id NULLS FIRST
"""


def ext_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[O/N10] multi-touch attribution (operators/temporal.py::
    attribution_credit): per-touch credit for every touchpoint before
    each user's first purchase, linear model — journey analysis / the
    per-step credit signal of outcome-labeled trajectories. Per-row
    rounded division only (no cross-row float accumulation), one
    user-keyed shuffle family. Oracle: full window replay."""
    from dbt_meshify_spark.operators.temporal import attribution_credit

    events = load_table(spark, sf_dir, "events")
    return attribution_credit(events, model="linear").orderBy(
        _asc("user_id"), _asc("touch_rank")
    )


QUERIES["ext_attribution_linear"] = ext_attribution_linear

ORACLES["ext_attribution_linear"] = r"""
WITH conv AS (
  SELECT user_id, cts, conv_event_id FROM (
    SELECT user_id, ts AS cts, event_id AS conv_event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
    FROM events WHERE event_type = 'purchase')
  WHERE rk = 1
),
t AS (
  SELECT e.user_id, c.conv_event_id, e.event_id AS touch_event_id,
         e.event_type AS touch_type, e.ts, e.event_id
  FROM events e JOIN conv c ON e.user_id = c.user_id
  WHERE e.event_type IN ('view', 'click', 'signup')
    AND (e.ts < c.cts OR (e.ts = c.cts AND e.event_id < c.conv_event_id))
),
r AS (
  SELECT user_id, conv_event_id, touch_event_id, touch_type,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS touch_rank,
         CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_touches
  FROM t
)
SELECT user_id, conv_event_id, touch_event_id, touch_type, touch_rank,
       n_touches, ROUND(1.0 / n_touches, 4) AS credit
FROM r
ORDER BY user_id NULLS FIRST, touch_rank NULLS FIRST
"""


def ext_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N2] cross-document EXACT duplicated substring runs — the
    suffix-array dedup tier (Lee et al.) the cascade lacked: anchor
    8-gram hash join + per-diagonal sorted-interval run merge recovers
    maximal aligned (doc_a, doc_b, span) extents, the unit surgical
    removal cuts (operators/dedup.py::substring_run_pairs). Caps (gram
    df <= 1000, <= 8 occurrences per doc) are deterministic and mirrored
    in the oracle."""
    from dbt_meshify_spark.operators.dedup import substring_run_pairs

    docs = load_table(spark, sf_dir, "documents")
    return substring_run_pairs(
        docs, k=8, min_run_tokens=12, max_gram_df=1000, max_occ_per_doc=8
    ).orderBy(_asc("id_a"), _asc("id_b"), _asc("a_start"), _asc("b_start"))


QUERIES["ext_substring_dedup"] = ext_substring_dedup

# anchor positions (1-based) -> occurrence cap -> stop-gram df cap ->
# hash-equality pair join -> per-(pair, diagonal) sorted-interval run merge;
# a new run starts exactly when pa > lag(pa) + k (k = 8)
ORACLES["ext_substring_dedup"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
pos0 AS (
  SELECT doc_id, i AS st, list_aggregate(l[i:i+7], 'string_agg', ' ') AS gram
  FROM (SELECT doc_id, l, unnest(range(1, len(l) - 6)) AS i FROM toks)
),
occ AS (
  SELECT doc_id, st, gram,
         row_number() OVER (PARTITION BY doc_id, gram ORDER BY st) AS rn
  FROM pos0
),
pos AS (SELECT doc_id, st, gram FROM occ WHERE rn <= 8),
keep AS (
  SELECT gram FROM pos GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 1000
),
pk AS (SELECT p.doc_id, p.st, p.gram FROM pos p JOIN keep k ON p.gram = k.gram),
anch AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.st AS pa, b.st AS pb
  FROM pk a JOIN pk b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
marked AS (
  SELECT id_a, id_b, pa, pb, pb - pa AS d,
         CASE WHEN lag(pa) OVER w IS NULL OR pa > lag(pa) OVER w + 8
              THEN 1 ELSE 0 END AS new
  FROM anch WINDOW w AS (PARTITION BY id_a, id_b, pb - pa ORDER BY pa)
),
grp AS (
  SELECT *, SUM(new) OVER (PARTITION BY id_a, id_b, d ORDER BY pa
                           ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
),
runs AS (
  SELECT id_a, id_b,
         MIN(pa) AS a_start, MAX(pa) + 8 AS a_end,
         MIN(pb) AS b_start, MAX(pb) + 8 AS b_end,
         CAST(MAX(pa) + 8 - MIN(pa) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_anchors
  FROM grp GROUP BY id_a, id_b, d, g
)
SELECT id_a, id_b, a_start, a_end, b_start, b_end, n_tokens, n_anchors
FROM runs WHERE n_tokens >= 12
ORDER BY id_a NULLS FIRST, id_b NULLS FIRST,
         a_start NULLS FIRST, b_start NULLS FIRST
"""


def ext_bpe_encode_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9-scale] hash-checked BPE ENCODING with the distributed
    trainer's merges (operators/bpe.py::apply_bpe_delimited): the merge
    chain applies over the distinct word-type table as pure codegen
    boundary-delimited replaces (train_bpe_distributed's exact
    semantics), then occurrences re-join and per-doc token arrays
    rebuild. Oracle replays training AND encoding via unrolled merge
    CTEs, so the full train->encode pipeline is hash-checked end-to-end
    (the greedy rank-scan apply_bpe tier stays rows-only by design).
    Merges serve from the cross-session ensure_bpe_merges cache
    (fingerprint-gated on the documents parquet): warm encodes skip the
    fixed training cost; the cold path the oracle replays is what the
    cache runs on a miss, and training determinism keeps warm == cold
    bit-exactly."""
    from dbt_meshify_spark.operators.bpe import (
        apply_bpe_delimited,
        ensure_bpe_merges,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = ensure_bpe_merges(
        spark,
        docs,
        cache_key=f"docs_{sf_dir}",
        n_merges=3,
        source_path=f"{sf_dir.rstrip('/')}/documents.parquet",
    )
    enc = apply_bpe_delimited(docs, merges)
    return enc.select(
        "doc_id",
        "n_bpe_tokens",
        F.concat_ws(" ", F.slice("bpe_tokens", 1, 5)).alias("bpe_head"),
    ).orderBy(_asc("doc_id"))


QUERIES["ext_bpe_encode_dist"] = ext_bpe_encode_dist

# encode chain: the same boundary-delimited replace as training, applied to
# the DISTINCT word-type table in merge_rank order (b1..b3 come from the
# training rounds _BPE_ROUNDS unrolls)
_BPE_ENC_ROUNDS = "".join(
    f"""
enc{r} AS (
  SELECT w, replace(seq,
    ' ' || (SELECT lhs FROM b{r}) || ' ' || (SELECT rhs FROM b{r}) || ' ',
    ' ' || (SELECT lhs FROM b{r}) || (SELECT rhs FROM b{r}) || ' ') AS seq
  FROM enc{r - 1}
),"""
    for r in (1, 2, 3)
)

ORACLES["ext_bpe_encode_dist"] = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
occ AS (
  SELECT doc_id, i AS pos, l[i] AS w
  FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM toks)
  WHERE l[i] <> ''
),
words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM occ GROUP BY w),
seq0 AS (
  SELECT freq, ' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' </w> ' AS seq
  FROM words
),{_BPE_ROUNDS}
enc0 AS (
  SELECT w, ' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' </w> ' AS seq
  FROM (SELECT DISTINCT w FROM occ)
),{_BPE_ENC_ROUNDS}
enc AS (SELECT w, string_split(trim(seq), ' ') AS wtoks FROM enc3),
docs_enc AS (
  SELECT o.doc_id, flatten(list(e.wtoks ORDER BY o.pos)) AS fl
  FROM occ o JOIN enc e ON o.w = e.w GROUP BY o.doc_id
)
SELECT doc_id, CAST(len(fl) AS BIGINT) AS n_bpe_tokens,
       array_to_string(fl[1:5], ' ') AS bpe_head
FROM docs_enc
ORDER BY doc_id NULLS FIRST
"""

# byte-level twin: same unrolled train+encode chain over the hex byte seq0
ORACLES["ext_bpe_byte_encode"] = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
occ AS (
  SELECT doc_id, i AS pos, l[i] AS w
  FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM toks)
  WHERE l[i] <> ''
),
words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM occ GROUP BY w),
seq0 AS (
  SELECT freq,
         ' ' || trim(regexp_replace(lower(hex(encode(w))), '(..)', '\1 ', 'g'))
           || ' </w> ' AS seq
  FROM words
),{_BPE_ROUNDS}
enc0 AS (
  SELECT w,
         ' ' || trim(regexp_replace(lower(hex(encode(w))), '(..)', '\1 ', 'g'))
           || ' </w> ' AS seq
  FROM (SELECT DISTINCT w FROM occ)
),{_BPE_ENC_ROUNDS}
enc AS (SELECT w, string_split(trim(seq), ' ') AS wtoks FROM enc3),
docs_enc AS (
  SELECT o.doc_id, flatten(list(e.wtoks ORDER BY o.pos)) AS fl
  FROM occ o JOIN enc e ON o.w = e.w GROUP BY o.doc_id
)
SELECT doc_id, CAST(len(fl) AS BIGINT) AS n_bpe_tokens,
       array_to_string(fl[1:5], ' ') AS bpe_head
FROM docs_enc
ORDER BY doc_id NULLS FIRST
"""

# fertility audit: the same train + encode CTE chain, aggregated per lang
# (occ COUNT(*) == Spark's regexp_count(\S+) for every doc that has words
# — NOT split-size, which over-counts on \t/\n-edged texts; no-word docs
# drop out of the inner join on both engines)
ORACLES["ext_tokenizer_fertility"] = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
occ AS (
  SELECT doc_id, i AS pos, l[i] AS w
  FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM toks)
  WHERE l[i] <> ''
),
words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM occ GROUP BY w),
seq0 AS (
  SELECT freq, ' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' </w> ' AS seq
  FROM words
),{_BPE_ROUNDS}
enc0 AS (
  SELECT w, ' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' </w> ' AS seq
  FROM (SELECT DISTINCT w FROM occ)
),{_BPE_ENC_ROUNDS}
enc AS (SELECT w, string_split(trim(seq), ' ') AS wtoks FROM enc3),
docs_enc AS (
  SELECT o.doc_id, CAST(SUM(len(e.wtoks)) AS BIGINT) AS n_bpe,
         CAST(COUNT(*) AS BIGINT) AS n_words
  FROM occ o JOIN enc e ON o.w = e.w GROUP BY o.doc_id
),
meta AS (
  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars FROM documents
)
SELECT m.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_bpe) AS BIGINT) AS n_bpe_tokens,
       ROUND(CAST(SUM(d.n_bpe) AS DOUBLE) / CAST(SUM(d.n_words) AS DOUBLE), 4)
         AS fertility,
       ROUND(CAST(SUM(m.n_chars) AS DOUBLE) / CAST(SUM(d.n_bpe) AS DOUBLE), 4)
         AS chars_per_token
FROM docs_enc d JOIN meta m ON d.doc_id = m.doc_id
GROUP BY m.lang
ORDER BY lang NULLS FIRST
"""


def ext_core_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[G-scale] full per-node core-number decomposition (k_max=4, 3
    rounds/level) over the minute-grain SAME-EVENT-TYPE user co-activity
    graph — operators/graph_rank.py::core_numbers: iterated min-degree
    peel where level k starts from level k-1's surviving edge set
    (nested cores), each level kcore's exact per-round plan with the
    signature early-stop. Oracle: every level's 3 peel rounds unrolled
    as MATERIALIZED CTEs (each round references its predecessor three
    times — without materialization DuckDB inlines the chain
    exponentially), max-k membership per node."""
    from dbt_meshify_spark.operators.graph_rank import core_numbers

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    active = events.select(
        F.date_trunc("minute", F.col("ts")).alias("m"), "event_type", "user_id"
    ).distinct()
    a = active.select("m", "event_type", F.col("user_id").alias("src"))
    b = active.select("m", "event_type", F.col("user_id").alias("dst"))
    edges = (
        a.join(b, ["m", "event_type"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return core_numbers(edges, k_max=4, iters_per_k=3).orderBy(_asc("id"))


QUERIES["ext_core_numbers"] = ext_core_numbers

# per-level unrolled peel rounds, mirroring core_numbers(k_max=4,
# iters_per_k=3): level k peels level k-1's survivor edge set; MATERIALIZED
# pins each round (3 predecessor references -> exponential inlining without)
_CORE_PARTS = ["e_2_0 AS MATERIALIZED (SELECT lo, hi FROM e0)"]
for _k in (2, 3, 4):
    if _k > 2:
        _CORE_PARTS.append(
            f"e_{_k}_0 AS MATERIALIZED (SELECT lo, hi FROM e_{_k - 1}_3)"
        )
    for _r in range(3):
        _CORE_PARTS.append(
            f"und_{_k}_{_r} AS (SELECT lo AS u FROM e_{_k}_{_r} "
            f"UNION ALL SELECT hi FROM e_{_k}_{_r})"
        )
        _CORE_PARTS.append(
            f"keep_{_k}_{_r} AS (SELECT u FROM und_{_k}_{_r} "
            f"GROUP BY u HAVING COUNT(*) >= {_k})"
        )
        _CORE_PARTS.append(
            f"e_{_k}_{_r + 1} AS MATERIALIZED (SELECT e.lo, e.hi "
            f"FROM e_{_k}_{_r} e JOIN keep_{_k}_{_r} a ON e.lo = a.u "
            f"JOIN keep_{_k}_{_r} b ON e.hi = b.u)"
        )
_CORE_PARTS.append(
    "lvl1 AS (SELECT DISTINCT u AS id, 1 AS core FROM "
    "(SELECT lo AS u FROM e_2_0 UNION ALL SELECT hi FROM e_2_0))"
)
for _k in (2, 3, 4):
    _CORE_PARTS.append(
        f"lvl{_k} AS (SELECT DISTINCT u AS id, {_k} AS core FROM "
        f"(SELECT lo AS u FROM e_{_k}_3 UNION ALL SELECT hi FROM e_{_k}_3))"
    )
_CORE_BODY = ",\n".join(_CORE_PARTS)

ORACLES["ext_core_numbers"] = f"""
WITH am AS (
  SELECT DISTINCT date_trunc('minute', ts) AS m, event_type, user_id
  FROM events WHERE user_id < 200
),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.user_id AS lo, b.user_id AS hi
  FROM am a JOIN am b
    ON a.m = b.m AND a.event_type = b.event_type AND a.user_id < b.user_id
),
{_CORE_BODY}
SELECT id, CAST(MAX(core) AS INT) AS core
FROM (SELECT * FROM lvl1 UNION ALL SELECT * FROM lvl2
      UNION ALL SELECT * FROM lvl3 UNION ALL SELECT * FROM lvl4)
GROUP BY id
ORDER BY id NULLS FIRST
"""


def ext_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N1/N2] END-TO-END surgical substring dedup: the detected
    cross-document duplicated runs (ext_substring_dedup's exact
    (doc_a, doc_b, span) extents) become per-doc cut lists under the
    keep-one-copy policy (lower doc id keeps its copy) and the covered
    tokens are cut and the text rebuilt — detection
    (dedup.substring_run_pairs) -> surgery spans
    (dedup.substring_runs_to_spans) -> removal (dedup.cut_spans_from_text)
    in one declared pipeline, the Lee-et-al. ExactSubstr removal pass.
    The corpus never shuffles on text: spans aggregate per doc and join
    back on the doc key."""
    from dbt_meshify_spark.operators.dedup import (
        cut_spans_from_text,
        substring_run_pairs,
        substring_runs_to_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    runs = substring_run_pairs(
        docs, k=8, min_run_tokens=12, max_gram_df=1000, max_occ_per_doc=8
    )
    spans = substring_runs_to_spans(runs)
    return cut_spans_from_text(docs, spans).orderBy(_asc("doc_id"))


QUERIES["ext_substring_removal"] = ext_substring_removal

# detection chain identical to ext_substring_dedup, then: keep-one-copy cut
# list (id_b side), running-max interval merge, covered-token cut + rebuild
ORACLES["ext_substring_removal"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents
),
pos0 AS (
  SELECT doc_id, i AS st, list_aggregate(l[i:i+7], 'string_agg', ' ') AS gram
  FROM (SELECT doc_id, l, unnest(range(1, len(l) - 6)) AS i FROM toks)
),
occ AS (
  SELECT doc_id, st, gram,
         row_number() OVER (PARTITION BY doc_id, gram ORDER BY st) AS rn
  FROM pos0
),
pos AS (SELECT doc_id, st, gram FROM occ WHERE rn <= 8),
keep AS (
  SELECT gram FROM pos GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 1000
),
pk AS (SELECT p.doc_id, p.st, p.gram FROM pos p JOIN keep k ON p.gram = k.gram),
anch AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.st AS pa, b.st AS pb
  FROM pk a JOIN pk b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
marked AS (
  SELECT id_a, id_b, pa, pb, pb - pa AS d,
         CASE WHEN lag(pa) OVER w IS NULL OR pa > lag(pa) OVER w + 8
              THEN 1 ELSE 0 END AS new
  FROM anch WINDOW w AS (PARTITION BY id_a, id_b, pb - pa ORDER BY pa)
),
grp AS (
  SELECT *, SUM(new) OVER (PARTITION BY id_a, id_b, d ORDER BY pa
                           ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
),
runs AS (
  SELECT id_a, id_b, MIN(pb) AS b_start, MAX(pb) + 8 AS b_end,
         CAST(MAX(pa) + 8 - MIN(pa) AS BIGINT) AS n_tokens
  FROM grp GROUP BY id_a, id_b, d, g
),
cuts AS (SELECT id_b AS doc_id, b_start AS s, b_end AS e FROM runs
         WHERE n_tokens >= 12),
cmk AS (
  SELECT doc_id, s, e,
         CASE WHEN MAX(e) OVER wp IS NULL OR s > MAX(e) OVER wp
              THEN 1 ELSE 0 END AS new_grp
  FROM cuts
  WINDOW wp AS (PARTITION BY doc_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
cgp AS (
  SELECT doc_id, s, e,
         SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS UNBOUNDED PRECEDING) AS grp
  FROM cmk
),
spans AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM cgp GROUP BY doc_id, grp),
cov AS (SELECT DISTINCT doc_id, unnest(range(s, e)) AS idx FROM spans),
tokpos AS (
  SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS idx FROM toks
),
kept AS (
  SELECT t.doc_id, t.idx, t.term
  FROM tokpos t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.idx = t.idx
  WHERE c.idx IS NULL
),
agg AS (
  SELECT doc_id, string_agg(term, ' ' ORDER BY idx) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
),
orig AS (SELECT doc_id, COALESCE(len(l), 0) AS n FROM toks)
SELECT o.doc_id,
       COALESCE(a.clean_text, '') AS clean_text,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_kept,
       CAST(o.n - COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_removed
FROM orig o LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id NULLS FIRST
"""


def ext_pii_luhn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9] Luhn-validated credit-card PII audit
    (operators/text.py::luhn_card_hits) — the checksum tier above
    redact_pii's pattern masking: per doc, how many card-shaped runs
    appear and how many are checksum-valid actual card shapes (~10% of
    arbitrary runs pass Luhn, so validation is what keeps order ids
    from mass-redacting). Digit runs are synthesized deterministically
    from doc_id on BOTH engines (the web-front-door synthesis pattern):
    one 16-digit run formatted by doc_id % 3 as contiguous / space- /
    dash-grouped (so the separator-tolerant extraction is exercised on
    every real-world form) plus one 12-14-digit contiguous run whose
    length varies so the candidate filter is exercised."""
    from dbt_meshify_spark.operators.text import luhn_card_hits

    docs = load_table(spark, sf_dir, "documents")
    # modulo BEFORE the product: (doc_id %% 1e5)^2 * 7919 tops out ~8e13 and
    # (doc_id %% 1e12) * 31 tops out ~3.1e13, both safely inside int64 for
    # ANY doc_id (a bare doc_id^2 overflows ANSI arithmetic at doc_id
    # ~3.4e7, a bare doc_id * 31 at ~3e17 — hidden scale ceilings)
    b = F.lpad(
        (
            ((F.col("doc_id") % 100000) * (F.col("doc_id") % 99991) * 7919 + 12345)
            % F.lit(10000000000000000)
        ).cast("string"),
        16,
        "0",
    )
    card = (
        F.when(
            F.col("doc_id") % 3 == 1,
            F.concat_ws(" ", b.substr(1, 4), b.substr(5, 4), b.substr(9, 4), b.substr(13, 4)),
        )
        .when(
            F.col("doc_id") % 3 == 2,
            F.concat_ws("-", b.substr(1, 4), b.substr(5, 4), b.substr(9, 4), b.substr(13, 4)),
        )
        .otherwise(b)
    )
    ref = F.expr(
        "lpad(CAST(((doc_id % 1000000000000) * 31 + 7) % 1000000000000 AS STRING), "
        "CAST(12 + doc_id % 3 AS INT), '0')"
    )
    synth = docs.select(
        "doc_id",
        F.concat(F.lit("pay "), card, F.lit(" ref "), ref, F.lit(" end")).alias("text"),
    )
    return luhn_card_hits(synth).orderBy(_asc("doc_id"))


QUERIES["ext_pii_luhn_audit"] = ext_pii_luhn_audit

ORACLES["ext_pii_luhn_audit"] = r"""
WITH base AS (
  SELECT doc_id,
         lpad(CAST(((doc_id % 100000) * (doc_id % 99991) * 7919
                    + 12345) % 10000000000000000 AS STRING), 16, '0') AS b
  FROM documents
),
synth AS (
  SELECT doc_id,
         'pay ' ||
         CASE CAST(doc_id % 3 AS INT)
           WHEN 1 THEN substr(b, 1, 4) || ' ' || substr(b, 5, 4) || ' '
                       || substr(b, 9, 4) || ' ' || substr(b, 13, 4)
           WHEN 2 THEN substr(b, 1, 4) || '-' || substr(b, 5, 4) || '-'
                       || substr(b, 9, 4) || '-' || substr(b, 13, 4)
           ELSE b END
         || ' ref ' || lpad(CAST(((doc_id % 1000000000000) * 31 + 7)
                                 % 1000000000000 AS STRING),
                            CAST(12 + doc_id % 3 AS INT), '0')
         || ' end' AS text
  FROM base
),
cands AS (
  -- three tiers, DISTINCT + SORTED per doc, mirroring _card_candidates:
  -- \b-bounded >=2-digit-group runs at 13-19 stripped digits, maximal
  -- contiguous 13-19-digit runs, and for OVERLONG grouped runs every
  -- contiguous <=9-group window of 13-19 digits (canonical-spaced)
  SELECT doc_id,
         unnest(list_sort(list_distinct(
           list_filter(regexp_extract_all(text, '\b\d{2,}(?:[ -]\d{2,})*\b'),
                       c -> len(replace(replace(c, ' ', ''), '-', ''))
                            BETWEEN 13 AND 19)
           || list_filter(regexp_extract_all(text, '\d+'),
                          c -> len(c) BETWEEN 13 AND 19)
           || flatten(list_transform(
                list_filter(
                  regexp_extract_all(text, '\b\d{2,}(?:[ -]\d{2,})*\b'),
                  c -> len(replace(replace(c, ' ', ''), '-', '')) > 19),
                r -> list_filter(
                  flatten(list_transform(
                    range(1, len(string_split_regex(r, '[ -]')) + 1), i ->
                    list_transform(
                      range(i, least(i + 8,
                                     len(string_split_regex(r, '[ -]'))) + 1),
                      j -> array_to_string(
                             string_split_regex(r, '[ -]')[i:j], ' ')))),
                  w -> len(replace(w, ' ', '')) BETWEEN 13 AND 19)))
         ))) AS run
  FROM synth
),
sized AS (
  SELECT doc_id, run,
         reverse(replace(replace(run, ' ', ''), '-', '')) AS rev
  FROM cands
),
summed AS (
  SELECT doc_id,
         list_sum(list_transform(range(1, len(rev) + 1), i ->
           CASE WHEN i % 2 = 0
             THEN CASE WHEN 2 * CAST(substring(rev, i, 1) AS INT) > 9
                       THEN 2 * CAST(substring(rev, i, 1) AS INT) - 9
                       ELSE 2 * CAST(substring(rev, i, 1) AS INT) END
             ELSE CAST(substring(rev, i, 1) AS INT) END)) AS s
  FROM sized
),
counts AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(SUM(CASE WHEN s % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
  FROM summed GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(c.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(c.n_valid, 0) AS BIGINT) AS n_valid
FROM documents d LEFT JOIN counts c ON d.doc_id = c.doc_id
ORDER BY d.doc_id NULLS FIRST
"""


def ext_trigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] Jelinek-Mercer interpolated TRIGRAM LM perplexity
    (operators/lm.py::trigram_perplexity) — the depth tier above the
    bigram CCNet proxy: l3*ML3 + l2*ML2 + l1*add-one-unigram, every
    scoring join equi-keyed on the trigram/bigram/word keys. Oracle
    replays all five count tables and the identical float expression
    order."""
    from dbt_meshify_spark.operators.lm import trigram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return trigram_perplexity(docs).orderBy(_asc("doc_id"))


QUERIES["ext_trigram_perplexity"] = ext_trigram_perplexity

ORACLES["ext_trigram_perplexity"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
  FROM documents
),
t3 AS MATERIALIZED (SELECT doc_id, l FROM toks WHERE len(l) >= 3),
pos3 AS (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i FROM t3),
tf AS MATERIALIZED (
  SELECT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS tri, COUNT(*) AS tf
  FROM pos3 GROUP BY doc_id, tri
),
ct AS MATERIALIZED (SELECT tri, SUM(tf) AS c_tri FROM tf GROUP BY tri),
ctx12 AS MATERIALIZED (
  SELECT split_part(tri, ' ', 1) || ' ' || split_part(tri, ' ', 2) AS w12,
         SUM(c_tri) AS c_w12
  FROM ct GROUP BY 1
),
pos2 AS (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM t3),
cb AS MATERIALIZED (
  SELECT l[i] || ' ' || l[i+1] AS w23, COUNT(*) AS c_w23
  FROM pos2 GROUP BY 1
),
ctx2 AS MATERIALIZED (
  SELECT split_part(w23, ' ', 1) AS w2, SUM(c_w23) AS c_w2 FROM cb GROUP BY 1
),
cu AS MATERIALIZED (
  SELECT term AS w3, COUNT(*) AS c_w3
  FROM (SELECT unnest(l) AS term FROM t3) GROUP BY 1
),
tot AS MATERIALIZED (
  SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS vs,
         CAST(COUNT(*) AS DOUBLE) AS ns
  FROM (SELECT unnest(l) AS term FROM t3)
),
scored AS (
  SELECT tf.doc_id, tf.tf,
         -ln(0.6 * (CAST(ct.c_tri AS DOUBLE) / CAST(ctx12.c_w12 AS DOUBLE))
           + 0.3 * (CAST(cb.c_w23 AS DOUBLE) / CAST(ctx2.c_w2 AS DOUBLE))
           + 0.1 * ((CAST(cu.c_w3 AS DOUBLE) + 1.0) / (tot.ns + tot.vs))) AS nll
  FROM tf
  JOIN ct USING (tri)
  JOIN ctx12 ON split_part(tf.tri, ' ', 1) || ' ' || split_part(tf.tri, ' ', 2)
             = ctx12.w12
  JOIN cb ON split_part(tf.tri, ' ', 2) || ' ' || split_part(tf.tri, ' ', 3)
          = cb.w23
  JOIN ctx2 ON split_part(tf.tri, ' ', 2) = ctx2.w2
  JOIN cu ON split_part(tf.tri, ' ', 3) = cu.w3
  CROSS JOIN tot
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
       ROUND(SUM(tf * nll) / SUM(tf), 4) + 0.0 AS avg_nll,
       ROUND(exp(SUM(tf * nll) / SUM(tf)), 4) AS ppl
FROM scored GROUP BY doc_id
ORDER BY doc_id NULLS FIRST
"""


def ext_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] interpolated KNESER-NEY trigram LM perplexity
    (operators/lm.py::kn_trigram_perplexity) — the published CCNet
    smoothing family (KenLM = modified KN) above the Jelinek-Mercer
    tier: discounted trigram ML backs off through continuation-count
    bigram and unigram levels, all N1+ quantities distinct-TYPE
    aggregates over the trigram/bigram type tables, every scoring join
    equi-keyed. Oracle replays all six count tables and the identical
    float expression order (D = 0.75)."""
    from dbt_meshify_spark.operators.lm import kn_trigram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return kn_trigram_perplexity(docs).orderBy(_asc("doc_id"))


QUERIES["ext_kn_perplexity"] = ext_kn_perplexity


def ext_ccnet_bucket_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9 composition] CCNet perplexity-bucketed corpus split: per
    language, rank documents by interpolated-KN trigram perplexity and
    label head/middle/tail terciles (Wenzek et al. 2020 — CCNet routes the
    head to training and drops or reweights the tail). The LM here is
    self-trained on the corpus (CCNet trains on a clean reference corpus;
    swapping the training frame changes nothing structural). Tercile
    boundaries are INTEGER comparisons on the per-lang rank (3r <= n /
    3r <= 2n), ranking on the ROUNDED ppl with doc_id tiebreak — so the
    split is engine-exact given the base query's established rounding
    discipline. Per-lang keyed windows — never a global sort."""
    from dbt_meshify_spark.operators.lm import kn_trigram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    ppl = kn_trigram_perplexity(docs).select("doc_id", "ppl")
    j = ppl.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("ppl").asc_nulls_first(), F.col("doc_id").asc_nulls_first()
    )
    wn = Window.partitionBy("lang")
    lab = j.withColumn("r", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    bucket = (
        F.when(3 * F.col("r") <= F.col("n"), F.lit("head"))
        .when(3 * F.col("r") <= 2 * F.col("n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        lab.withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (F.min("ppl") + F.lit(0.0)).alias("min_ppl"),
            (F.max("ppl") + F.lit(0.0)).alias("max_ppl"),
        )
        .orderBy(_asc("lang"), _asc("bucket"))
    )


QUERIES["ext_ccnet_bucket_split"] = ext_ccnet_bucket_split


def ext_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9, hash-checked] corpus-trained linear quality/language
    classifier — TRAINING (operators/classifier.py::train_nb_weights):
    label = (lang = 'en'), per-term Laplace posterior P(en | term) in
    integer ten-thousandths over the top-20k-occurrence vocabulary. The
    filter-model stage every published curation pipeline runs
    (CCNet/GPT-3/LLaMA gate documents on a linear classifier); integer
    counts + one floor-division make training itself oracle-replayable,
    which a log-space fastText never is (libm ulp drift)."""
    from dbt_meshify_spark.operators.classifier import train_nb_weights

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "is_en", F.col("lang") == F.lit("en")
    )
    w = train_nb_weights(docs, "is_en", max_vocab=20_000)
    return w.orderBy(_asc("term"))


QUERIES["ext_classifier_train"] = ext_classifier_train

_CLS_TRAIN_CTES = r"""toks AS (
  SELECT (lang = 'en') AS pos,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
counts AS (
  SELECT term,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_c,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS neg_c
  FROM toks WHERE term <> '' GROUP BY term
),
top AS (
  SELECT term, pos_c, neg_c,
         CAST(FLOOR((pos_c + 1) * 10000 / (pos_c + neg_c + 2)) AS BIGINT)
           AS w_units
  FROM counts
  ORDER BY pos_c + neg_c DESC, term ASC NULLS FIRST LIMIT 20000
)"""

ORACLES["ext_classifier_train"] = f"""
WITH {_CLS_TRAIN_CTES}
SELECT term, pos_c, neg_c, w_units
FROM top ORDER BY term NULLS FIRST
"""


def ext_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9, hash-checked] classifier INFERENCE end-to-end
    (operators/classifier.py::classify_documents): every document scores
    the tf-weighted mean posterior of its known terms under the
    ext_classifier_train model — integer-exact to the one final division,
    label from the ROUNDED score, unscorable docs surfaced with a NULL
    score rather than dropped. One tokenize pass + one term equi-join +
    one per-doc aggregate; the oracle replays training AND inference."""
    from dbt_meshify_spark.operators.classifier import (
        classify_documents,
        train_nb_weights,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "is_en", F.col("lang") == F.lit("en")
    )
    w = train_nb_weights(docs, "is_en", max_vocab=20_000)
    out = classify_documents(docs, w, threshold=0.5)
    return out.orderBy(_asc("doc_id"))


QUERIES["ext_classifier_score"] = ext_classifier_score

# shared inference chain (train CTEs -> per-doc score): ext_classifier_score
# and ext_uncertainty_sample replay the identical scoring, so the margin
# ranking can never drift from the scorer it audits
_CLS_SCORE_CTES = r"""occ AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
    FROM documents
  ) WHERE t <> ''
),
tfd AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM occ GROUP BY 1, 2
),
j AS (
  SELECT t.doc_id, t.tf, w.w_units
  FROM tfd t LEFT JOIN top w ON t.term = w.term
),
agg AS (
  SELECT doc_id,
         CAST(SUM(tf) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN w_units IS NOT NULL THEN tf ELSE 0 END) AS BIGINT)
           AS n_known,
         CAST(COALESCE(SUM(tf * w_units), 0) AS BIGINT) AS num
  FROM j GROUP BY doc_id
),
sc AS (
  SELECT doc_id, n_tokens, n_known,
         CASE WHEN n_known > 0
              THEN ROUND(CAST(num AS DOUBLE)
                         / (CAST(n_known AS DOUBLE) * 10000.0), 4) + 0.0
         END AS score
  FROM agg
)"""

ORACLES["ext_classifier_score"] = f"""
WITH {_CLS_TRAIN_CTES},
{_CLS_SCORE_CTES}
SELECT doc_id, n_tokens, n_known, score,
       COALESCE(score >= 0.5, FALSE) AS label
FROM sc ORDER BY doc_id NULLS FIRST
"""

ORACLES["ext_uncertainty_sample"] = f"""
WITH {_CLS_TRAIN_CTES},
{_CLS_SCORE_CTES},
m AS (
  SELECT doc_id, score, ABS(score - 0.5) AS m
  FROM sc WHERE score IS NOT NULL
),
rk AS (
  SELECT doc_id, score, m,
         ROW_NUMBER() OVER (ORDER BY m ASC, doc_id ASC) AS rn
  FROM m
)
SELECT doc_id, score, ROUND(m, 4) + 0.0 AS margin
FROM rk WHERE rn <= 50
ORDER BY doc_id NULLS FIRST
"""


def ext_stream_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6/N4] STREAMING filter-model inference: the documents corpus
    arrives as a file stream and every micro-batch scores against the
    standing ext_classifier_train weight table
    (streaming/documents.py::stream_classifier_filter — train once, serve
    every batch). Per-doc verdicts make the drained relation equal the
    batch scorer exactly, so it shares ext_classifier_score's oracle."""
    from dbt_meshify_spark.operators.classifier import train_nb_weights
    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_classifier_filter,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "is_en", F.col("lang") == F.lit("en")
    )
    w = train_nb_weights(docs, "is_en", max_vocab=20_000)
    feed = read_documents_stream(
        spark, f"{sf_dir.rstrip('/')}/documents.parquet", max_files_per_trigger=1
    )
    out_dir = _stream_scratch("stream_cls_")
    with _batch_width_pin(spark, f"{sf_dir.rstrip('/')}/documents.parquet"):
        out = stream_classifier_filter(feed, w, out_dir)
    return out.orderBy(_asc("doc_id"))


QUERIES["ext_stream_classifier_filter"] = ext_stream_classifier_filter
ORACLES["ext_stream_classifier_filter"] = ORACLES["ext_classifier_score"]

# shares the full KN CTE chain; only the report tail differs (ranked
# terciles instead of per-doc rows)
ORACLES["ext_ccnet_bucket_split"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
  FROM documents
),
t3 AS MATERIALIZED (SELECT doc_id, l FROM toks WHERE len(l) >= 3),
pos3 AS (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i FROM t3),
tf AS MATERIALIZED (
  SELECT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS tri, COUNT(*) AS tf
  FROM pos3 GROUP BY doc_id, tri
),
keys AS MATERIALIZED (
  SELECT tri, SUM(tf) AS c_tri,
         split_part(tri, ' ', 1) || ' ' || split_part(tri, ' ', 2) AS w12,
         split_part(tri, ' ', 2) || ' ' || split_part(tri, ' ', 3) AS w23,
         split_part(tri, ' ', 2) AS w2,
         split_part(tri, ' ', 3) AS w3
  FROM tf GROUP BY tri
),
cw12 AS MATERIALIZED (
  SELECT w12, SUM(c_tri) AS c_w12, COUNT(*) AS n1p_w12 FROM keys GROUP BY w12
),
cw23 AS MATERIALIZED (
  SELECT w23, COUNT(*) AS n_dot_w23 FROM keys GROUP BY w23
),
cw2 AS MATERIALIZED (
  SELECT w2, COUNT(*) AS n_dot_w2, COUNT(DISTINCT w23) AS n_w2_dot
  FROM keys GROUP BY w2
),
pos2 AS (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM t3),
bt AS MATERIALIZED (SELECT DISTINCT l[i] || ' ' || l[i+1] AS bg FROM pos2),
cw3 AS MATERIALIZED (
  SELECT split_part(bg, ' ', 2) AS w3, COUNT(*) AS n_dot_w3 FROM bt GROUP BY 1
),
tot AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS nbt FROM bt),
scored AS (
  SELECT tf.doc_id, tf.tf,
    -ln(
      greatest(CAST(k.c_tri AS DOUBLE) - 0.75, 0.0) / CAST(cw12.c_w12 AS DOUBLE)
      + (0.75 * CAST(cw12.n1p_w12 AS DOUBLE) / CAST(cw12.c_w12 AS DOUBLE))
      * (greatest(CAST(cw23.n_dot_w23 AS DOUBLE) - 0.75, 0.0)
           / CAST(cw2.n_dot_w2 AS DOUBLE)
         + (0.75 * CAST(cw2.n_w2_dot AS DOUBLE) / CAST(cw2.n_dot_w2 AS DOUBLE))
         * (CAST(cw3.n_dot_w3 AS DOUBLE) / tot.nbt))
    ) AS nll
  FROM tf
  JOIN keys k USING (tri)
  JOIN cw12 ON k.w12 = cw12.w12
  JOIN cw23 ON k.w23 = cw23.w23
  JOIN cw2 ON k.w2 = cw2.w2
  JOIN cw3 ON k.w3 = cw3.w3
  CROSS JOIN tot
),
ppl AS (
  SELECT doc_id, ROUND(exp(SUM(tf * nll) / SUM(tf)), 4) AS ppl
  FROM scored GROUP BY doc_id
),
lp AS (
  SELECT d.lang, p.doc_id, p.ppl,
         ROW_NUMBER() OVER (
           PARTITION BY d.lang
           ORDER BY p.ppl NULLS FIRST, p.doc_id NULLS FIRST) AS r,
         COUNT(*) OVER (PARTITION BY d.lang) AS n
  FROM ppl p JOIN documents d ON p.doc_id = d.doc_id
),
lab AS (
  SELECT lang, ppl,
         CASE WHEN 3 * r <= n THEN 'head'
              WHEN 3 * r <= 2 * n THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM lp
)
SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(ppl) + 0.0 AS min_ppl, MAX(ppl) + 0.0 AS max_ppl
FROM lab GROUP BY lang, bucket
ORDER BY lang NULLS FIRST, bucket NULLS FIRST
"""

# MATERIALIZED per the trigram lesson: keys is referenced by 3 downstream
# count CTEs that the scored join re-references — unmaterialized, DuckDB
# re-inlines the tokenize+aggregate pyramid multiplicatively
ORACLES["ext_kn_perplexity"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
  FROM documents
),
t3 AS MATERIALIZED (SELECT doc_id, l FROM toks WHERE len(l) >= 3),
pos3 AS (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i FROM t3),
tf AS MATERIALIZED (
  SELECT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS tri, COUNT(*) AS tf
  FROM pos3 GROUP BY doc_id, tri
),
keys AS MATERIALIZED (
  SELECT tri, SUM(tf) AS c_tri,
         split_part(tri, ' ', 1) || ' ' || split_part(tri, ' ', 2) AS w12,
         split_part(tri, ' ', 2) || ' ' || split_part(tri, ' ', 3) AS w23,
         split_part(tri, ' ', 2) AS w2,
         split_part(tri, ' ', 3) AS w3
  FROM tf GROUP BY tri
),
cw12 AS MATERIALIZED (
  SELECT w12, SUM(c_tri) AS c_w12, COUNT(*) AS n1p_w12 FROM keys GROUP BY w12
),
cw23 AS MATERIALIZED (
  SELECT w23, COUNT(*) AS n_dot_w23 FROM keys GROUP BY w23
),
cw2 AS MATERIALIZED (
  SELECT w2, COUNT(*) AS n_dot_w2, COUNT(DISTINCT w23) AS n_w2_dot
  FROM keys GROUP BY w2
),
pos2 AS (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM t3),
bt AS MATERIALIZED (SELECT DISTINCT l[i] || ' ' || l[i+1] AS bg FROM pos2),
cw3 AS MATERIALIZED (
  SELECT split_part(bg, ' ', 2) AS w3, COUNT(*) AS n_dot_w3 FROM bt GROUP BY 1
),
tot AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS nbt FROM bt),
scored AS (
  SELECT tf.doc_id, tf.tf,
    -ln(
      greatest(CAST(k.c_tri AS DOUBLE) - 0.75, 0.0) / CAST(cw12.c_w12 AS DOUBLE)
      + (0.75 * CAST(cw12.n1p_w12 AS DOUBLE) / CAST(cw12.c_w12 AS DOUBLE))
      * (greatest(CAST(cw23.n_dot_w23 AS DOUBLE) - 0.75, 0.0)
           / CAST(cw2.n_dot_w2 AS DOUBLE)
         + (0.75 * CAST(cw2.n_w2_dot AS DOUBLE) / CAST(cw2.n_dot_w2 AS DOUBLE))
         * (CAST(cw3.n_dot_w3 AS DOUBLE) / tot.nbt))
    ) AS nll
  FROM tf
  JOIN keys k USING (tri)
  JOIN cw12 ON k.w12 = cw12.w12
  JOIN cw23 ON k.w23 = cw23.w23
  JOIN cw2 ON k.w2 = cw2.w2
  JOIN cw3 ON k.w3 = cw3.w3
  CROSS JOIN tot
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
       ROUND(SUM(tf * nll) / SUM(tf), 4) + 0.0 AS avg_nll,
       ROUND(exp(SUM(tf * nll) / SUM(tf)), 4) AS ppl
FROM scored GROUP BY doc_id
ORDER BY doc_id NULLS FIRST
"""


def ext_mkn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] MODIFIED Kneser-Ney trigram LM perplexity
    (operators/lm.py::mkn_trigram_perplexity) — the exact Chen-Goodman
    three-discount scheme of CCNet's published KenLM filter: D1/D2/D3+
    derive from each level's count-of-counts (Y = n1/(n1+2n2) etc.,
    clamped and CASE-guarded), per-context released mass buckets feed
    gamma, the middle level applies the same scheme to continuation
    counts. Oracle replays the count-of-count histograms, the discount
    scalars, and the identical float expression order."""
    from dbt_meshify_spark.operators.lm import mkn_trigram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return mkn_trigram_perplexity(docs).orderBy(_asc("doc_id"))


QUERIES["ext_mkn_perplexity"] = ext_mkn_perplexity

ORACLES["ext_mkn_perplexity"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
  FROM documents
),
t3 AS MATERIALIZED (SELECT doc_id, l FROM toks WHERE len(l) >= 3),
pos3 AS (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i FROM t3),
tf AS MATERIALIZED (
  SELECT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS tri, COUNT(*) AS tf
  FROM pos3 GROUP BY doc_id, tri
),
keys AS MATERIALIZED (
  SELECT tri, SUM(tf) AS c_tri,
         split_part(tri, ' ', 1) || ' ' || split_part(tri, ' ', 2) AS w12,
         split_part(tri, ' ', 2) || ' ' || split_part(tri, ' ', 3) AS w23,
         split_part(tri, ' ', 2) AS w2,
         split_part(tri, ' ', 3) AS w3
  FROM tf GROUP BY tri
),
hist_t AS (
  SELECT SUM(CASE WHEN c_tri = 1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN c_tri = 2 THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN c_tri = 3 THEN 1 ELSE 0 END) AS n3,
         SUM(CASE WHEN c_tri = 4 THEN 1 ELSE 0 END) AS n4
  FROM keys
),
dt AS MATERIALIZED (
  SELECT
    greatest(CASE WHEN n1 > 0 THEN 1.0 - 2.0 * y * CAST(n2 AS DOUBLE)
                                      / CAST(n1 AS DOUBLE) ELSE 1.0 END,
             0.0) AS dt1,
    greatest(CASE WHEN n2 > 0 THEN 2.0 - 3.0 * y * CAST(n3 AS DOUBLE)
                                      / CAST(n2 AS DOUBLE) ELSE 2.0 END,
             0.0) AS dt2,
    greatest(CASE WHEN n3 > 0 THEN 3.0 - 4.0 * y * CAST(n4 AS DOUBLE)
                                      / CAST(n3 AS DOUBLE) ELSE 3.0 END,
             0.0) AS dt3
  FROM (
    SELECT n1, n2, n3, n4,
           CASE WHEN n1 + 2 * n2 > 0
                THEN CAST(n1 AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) + 2.0 * CAST(n2 AS DOUBLE))
                ELSE 0.5 END AS y
    FROM hist_t
  )
),
cw12 AS MATERIALIZED (
  SELECT w12, SUM(c_tri) AS c_w12,
         SUM(CASE WHEN c_tri = 1 THEN 1 ELSE 0 END) AS b1,
         SUM(CASE WHEN c_tri = 2 THEN 1 ELSE 0 END) AS b2,
         SUM(CASE WHEN c_tri >= 3 THEN 1 ELSE 0 END) AS b3p
  FROM keys GROUP BY w12
),
cw23 AS MATERIALIZED (SELECT w23, COUNT(*) AS cc FROM keys GROUP BY w23),
hist_m AS (
  SELECT SUM(CASE WHEN cc = 1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN cc = 2 THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN cc = 3 THEN 1 ELSE 0 END) AS n3,
         SUM(CASE WHEN cc = 4 THEN 1 ELSE 0 END) AS n4
  FROM cw23
),
dm AS MATERIALIZED (
  SELECT
    greatest(CASE WHEN n1 > 0 THEN 1.0 - 2.0 * y * CAST(n2 AS DOUBLE)
                                      / CAST(n1 AS DOUBLE) ELSE 1.0 END,
             0.0) AS dm1,
    greatest(CASE WHEN n2 > 0 THEN 2.0 - 3.0 * y * CAST(n3 AS DOUBLE)
                                      / CAST(n2 AS DOUBLE) ELSE 2.0 END,
             0.0) AS dm2,
    greatest(CASE WHEN n3 > 0 THEN 3.0 - 4.0 * y * CAST(n4 AS DOUBLE)
                                      / CAST(n3 AS DOUBLE) ELSE 3.0 END,
             0.0) AS dm3
  FROM (
    SELECT n1, n2, n3, n4,
           CASE WHEN n1 + 2 * n2 > 0
                THEN CAST(n1 AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) + 2.0 * CAST(n2 AS DOUBLE))
                ELSE 0.5 END AS y
    FROM hist_m
  )
),
cw2 AS MATERIALIZED (
  SELECT split_part(w23, ' ', 1) AS w2, SUM(cc) AS n_dot_w2,
         SUM(CASE WHEN cc = 1 THEN 1 ELSE 0 END) AS m1,
         SUM(CASE WHEN cc = 2 THEN 1 ELSE 0 END) AS m2,
         SUM(CASE WHEN cc >= 3 THEN 1 ELSE 0 END) AS m3p
  FROM cw23 GROUP BY 1
),
pos2 AS (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM t3),
bt AS MATERIALIZED (SELECT DISTINCT l[i] || ' ' || l[i+1] AS bg FROM pos2),
cw3 AS MATERIALIZED (
  SELECT split_part(bg, ' ', 2) AS w3, COUNT(*) AS n_dot_w3 FROM bt GROUP BY 1
),
tot AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS nbt FROM bt),
scored AS (
  SELECT tf.doc_id, tf.tf,
    -ln(
      greatest(CAST(k.c_tri AS DOUBLE)
                 - (CASE WHEN k.c_tri = 1 THEN dt.dt1
                         WHEN k.c_tri = 2 THEN dt.dt2
                         ELSE dt.dt3 END),
               0.0) / CAST(cw12.c_w12 AS DOUBLE)
      + ((dt.dt1 * CAST(cw12.b1 AS DOUBLE)
          + dt.dt2 * CAST(cw12.b2 AS DOUBLE)
          + dt.dt3 * CAST(cw12.b3p AS DOUBLE)) / CAST(cw12.c_w12 AS DOUBLE))
      * (greatest(CAST(cw23.cc AS DOUBLE)
                    - (CASE WHEN cw23.cc = 1 THEN dm.dm1
                            WHEN cw23.cc = 2 THEN dm.dm2
                            ELSE dm.dm3 END),
                  0.0) / CAST(cw2.n_dot_w2 AS DOUBLE)
         + ((dm.dm1 * CAST(cw2.m1 AS DOUBLE)
             + dm.dm2 * CAST(cw2.m2 AS DOUBLE)
             + dm.dm3 * CAST(cw2.m3p AS DOUBLE)) / CAST(cw2.n_dot_w2 AS DOUBLE))
         * (CAST(cw3.n_dot_w3 AS DOUBLE) / tot.nbt))
    ) AS nll
  FROM tf
  JOIN keys k USING (tri)
  JOIN cw12 ON k.w12 = cw12.w12
  JOIN cw23 ON k.w23 = cw23.w23
  JOIN cw2 ON k.w2 = cw2.w2
  JOIN cw3 ON k.w3 = cw3.w3
  CROSS JOIN tot CROSS JOIN dt CROSS JOIN dm
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
       ROUND(SUM(tf * nll) / SUM(tf), 4) + 0.0 AS avg_nll,
       ROUND(exp(SUM(tf * nll) / SUM(tf)), 4) AS ppl
FROM scored GROUP BY doc_id
ORDER BY doc_id NULLS FIRST
"""


def ext_kn5_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] interpolated Kneser-Ney 5-GRAM LM perplexity
    (operators/lm.py::kn_ngram_perplexity at n=5) — the full published
    CCNet filter depth (5-gram KenLM's interpolated-KN recursion):
    discounted 5-gram ML backs off through 5-gram/4-gram/trigram-type
    continuation levels to the bigram-type unigram floor. The operator
    is ORDER-GENERIC (reproduces the hardcoded order-3/4 tiers exactly —
    asserted in tests); the oracle replays all ten count tables and the
    identical float expression order (D = 0.75)."""
    from dbt_meshify_spark.operators.lm import kn_ngram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return (
        kn_ngram_perplexity(docs, n=5)
        .select(
            "doc_id",
            F.col("n_ngrams").alias("n_fivegrams"),
            "avg_nll",
            "ppl",
        )
        .orderBy(_asc("doc_id"))
    )


QUERIES["ext_kn5_perplexity"] = ext_kn5_perplexity

ORACLES["ext_kn5_perplexity"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
  FROM documents
),
t5 AS MATERIALIZED (SELECT doc_id, l FROM toks WHERE len(l) >= 5),
pos5 AS (SELECT doc_id, l, unnest(range(1, len(l) - 3)) AS i FROM t5),
tf AS MATERIALIZED (
  SELECT doc_id,
         l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]
              || ' ' || l[i+4] AS g5,
         COUNT(*) AS tf
  FROM pos5 GROUP BY doc_id, g5
),
keys AS MATERIALIZED (
  SELECT g5, SUM(tf) AS c_g,
         split_part(g5, ' ', 1) || ' ' || split_part(g5, ' ', 2) || ' '
           || split_part(g5, ' ', 3) || ' ' || split_part(g5, ' ', 4) AS pre,
         split_part(g5, ' ', 2) || ' ' || split_part(g5, ' ', 3) || ' '
           || split_part(g5, ' ', 4) || ' ' || split_part(g5, ' ', 5) AS s4,
         split_part(g5, ' ', 2) || ' ' || split_part(g5, ' ', 3) || ' '
           || split_part(g5, ' ', 4) AS m4,
         split_part(g5, ' ', 3) || ' ' || split_part(g5, ' ', 4) || ' '
           || split_part(g5, ' ', 5) AS s3,
         split_part(g5, ' ', 3) || ' ' || split_part(g5, ' ', 4) AS m3,
         split_part(g5, ' ', 4) || ' ' || split_part(g5, ' ', 5) AS s2,
         split_part(g5, ' ', 4) AS m2,
         split_part(g5, ' ', 5) AS s1
  FROM tf GROUP BY g5
),
cpre AS MATERIALIZED (
  SELECT pre, SUM(c_g) AS c_pre, COUNT(*) AS n1p_pre FROM keys GROUP BY pre
),
tb4 AS MATERIALIZED (SELECT s4, COUNT(*) AS n_dot_s4 FROM keys GROUP BY s4),
cx4 AS MATERIALIZED (
  SELECT m4, COUNT(*) AS n_dot_m4, COUNT(DISTINCT s4) AS n_mid4
  FROM keys GROUP BY m4
),
pos4 AS (SELECT doc_id, l, unnest(range(1, len(l) - 2)) AS i FROM t5),
t4t AS MATERIALIZED (
  SELECT DISTINCT l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] AS h
  FROM pos4
),
t4k AS MATERIALIZED (
  SELECT h,
         split_part(h, ' ', 2) || ' ' || split_part(h, ' ', 3) || ' '
           || split_part(h, ' ', 4) AS s3,
         split_part(h, ' ', 2) || ' ' || split_part(h, ' ', 3) AS m3
  FROM t4t
),
tb3 AS MATERIALIZED (SELECT s3, COUNT(*) AS n_dot_s3 FROM t4k GROUP BY s3),
cx3 AS MATERIALIZED (
  SELECT m3, COUNT(*) AS n_dot_m3, COUNT(DISTINCT s3) AS n_mid3
  FROM t4k GROUP BY m3
),
pos3 AS (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i FROM t5),
t3t AS MATERIALIZED (
  SELECT DISTINCT l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS h FROM pos3
),
t3k AS MATERIALIZED (
  SELECT h,
         split_part(h, ' ', 2) || ' ' || split_part(h, ' ', 3) AS s2,
         split_part(h, ' ', 2) AS m2
  FROM t3t
),
tb2 AS MATERIALIZED (SELECT s2, COUNT(*) AS n_dot_s2 FROM t3k GROUP BY s2),
cx2 AS MATERIALIZED (
  SELECT m2, COUNT(*) AS n_dot_m2, COUNT(DISTINCT s2) AS n_mid2
  FROM t3k GROUP BY m2
),
pos2 AS (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM t5),
bt AS MATERIALIZED (SELECT DISTINCT l[i] || ' ' || l[i+1] AS bg FROM pos2),
cw1 AS MATERIALIZED (
  SELECT split_part(bg, ' ', 2) AS s1, COUNT(*) AS n_dot_w FROM bt GROUP BY 1
),
tot AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS nbt FROM bt),
scored AS (
  SELECT tf.doc_id, tf.tf,
    -ln(
      greatest(CAST(k.c_g AS DOUBLE) - 0.75, 0.0) / CAST(cpre.c_pre AS DOUBLE)
      + (0.75 * CAST(cpre.n1p_pre AS DOUBLE) / CAST(cpre.c_pre AS DOUBLE))
      * (greatest(CAST(tb4.n_dot_s4 AS DOUBLE) - 0.75, 0.0)
           / CAST(cx4.n_dot_m4 AS DOUBLE)
         + (0.75 * CAST(cx4.n_mid4 AS DOUBLE) / CAST(cx4.n_dot_m4 AS DOUBLE))
         * (greatest(CAST(tb3.n_dot_s3 AS DOUBLE) - 0.75, 0.0)
              / CAST(cx3.n_dot_m3 AS DOUBLE)
            + (0.75 * CAST(cx3.n_mid3 AS DOUBLE) / CAST(cx3.n_dot_m3 AS DOUBLE))
            * (greatest(CAST(tb2.n_dot_s2 AS DOUBLE) - 0.75, 0.0)
                 / CAST(cx2.n_dot_m2 AS DOUBLE)
               + (0.75 * CAST(cx2.n_mid2 AS DOUBLE)
                    / CAST(cx2.n_dot_m2 AS DOUBLE))
               * (CAST(cw1.n_dot_w AS DOUBLE) / tot.nbt))))
    ) AS nll
  FROM tf
  JOIN keys k USING (g5)
  JOIN cpre ON k.pre = cpre.pre
  JOIN tb4 ON k.s4 = tb4.s4
  JOIN cx4 ON k.m4 = cx4.m4
  JOIN tb3 ON k.s3 = tb3.s3
  JOIN cx3 ON k.m3 = cx3.m3
  JOIN tb2 ON k.s2 = tb2.s2
  JOIN cx2 ON k.m2 = cx2.m2
  JOIN cw1 ON k.s1 = cw1.s1
  CROSS JOIN tot
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_fivegrams,
       ROUND(SUM(tf * nll) / SUM(tf), 4) + 0.0 AS avg_nll,
       ROUND(exp(SUM(tf * nll) / SUM(tf)), 4) AS ppl
FROM scored GROUP BY doc_id
ORDER BY doc_id NULLS FIRST
"""


def ext_kn4_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] interpolated Kneser-Ney 4-GRAM LM perplexity
    (operators/lm.py::kn_fourgram_perplexity) — the "one more order"
    depth step toward CCNet's 5-gram KenLM: discounted 4-gram ML backs
    off through 4-gram-type, trigram-type, and bigram-type continuation
    levels; seven equi-keyed scoring joins, every N1+ a distinct-type
    aggregate. Oracle replays all eight count tables and the identical
    float expression order (D = 0.75)."""
    from dbt_meshify_spark.operators.lm import kn_fourgram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return kn_fourgram_perplexity(docs).orderBy(_asc("doc_id"))


QUERIES["ext_kn4_perplexity"] = ext_kn4_perplexity

ORACLES["ext_kn4_perplexity"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
  FROM documents
),
t4 AS MATERIALIZED (SELECT doc_id, l FROM toks WHERE len(l) >= 4),
pos4 AS (SELECT doc_id, l, unnest(range(1, len(l) - 2)) AS i FROM t4),
tf AS MATERIALIZED (
  SELECT doc_id,
         l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] AS g4,
         COUNT(*) AS tf
  FROM pos4 GROUP BY doc_id, g4
),
keys AS MATERIALIZED (
  SELECT g4, SUM(tf) AS c_g4,
         split_part(g4, ' ', 1) || ' ' || split_part(g4, ' ', 2) || ' '
           || split_part(g4, ' ', 3) AS w123,
         split_part(g4, ' ', 2) || ' ' || split_part(g4, ' ', 3) || ' '
           || split_part(g4, ' ', 4) AS w234,
         split_part(g4, ' ', 2) || ' ' || split_part(g4, ' ', 3) AS w23,
         split_part(g4, ' ', 3) || ' ' || split_part(g4, ' ', 4) AS w34,
         split_part(g4, ' ', 3) AS w3,
         split_part(g4, ' ', 4) AS w4
  FROM tf GROUP BY g4
),
cw123 AS MATERIALIZED (
  SELECT w123, SUM(c_g4) AS c_w123, COUNT(*) AS n1p_w123 FROM keys GROUP BY w123
),
cw234 AS MATERIALIZED (
  SELECT w234, COUNT(*) AS n_dot_w234 FROM keys GROUP BY w234
),
cw23 AS MATERIALIZED (
  SELECT w23, COUNT(*) AS n_dot_w23, COUNT(DISTINCT w234) AS n_w23_dot
  FROM keys GROUP BY w23
),
pos3 AS (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i FROM t4),
tt AS MATERIALIZED (
  SELECT DISTINCT l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS tg FROM pos3
),
tk AS MATERIALIZED (
  SELECT tg,
         split_part(tg, ' ', 2) || ' ' || split_part(tg, ' ', 3) AS w34,
         split_part(tg, ' ', 2) AS w3
  FROM tt
),
cw34 AS MATERIALIZED (SELECT w34, COUNT(*) AS n_dot_w34 FROM tk GROUP BY w34),
cw3 AS MATERIALIZED (
  SELECT w3, COUNT(*) AS n_dot_w3, COUNT(DISTINCT w34) AS n_w3_dot
  FROM tk GROUP BY w3
),
pos2 AS (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM t4),
bt AS MATERIALIZED (SELECT DISTINCT l[i] || ' ' || l[i+1] AS bg FROM pos2),
cw4 AS MATERIALIZED (
  SELECT split_part(bg, ' ', 2) AS w4, COUNT(*) AS n_dot_w4 FROM bt GROUP BY 1
),
tot AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS nbt FROM bt),
scored AS (
  SELECT tf.doc_id, tf.tf,
    -ln(
      greatest(CAST(k.c_g4 AS DOUBLE) - 0.75, 0.0) / CAST(cw123.c_w123 AS DOUBLE)
      + (0.75 * CAST(cw123.n1p_w123 AS DOUBLE) / CAST(cw123.c_w123 AS DOUBLE))
      * (greatest(CAST(cw234.n_dot_w234 AS DOUBLE) - 0.75, 0.0)
           / CAST(cw23.n_dot_w23 AS DOUBLE)
         + (0.75 * CAST(cw23.n_w23_dot AS DOUBLE) / CAST(cw23.n_dot_w23 AS DOUBLE))
         * (greatest(CAST(cw34.n_dot_w34 AS DOUBLE) - 0.75, 0.0)
              / CAST(cw3.n_dot_w3 AS DOUBLE)
            + (0.75 * CAST(cw3.n_w3_dot AS DOUBLE) / CAST(cw3.n_dot_w3 AS DOUBLE))
            * (CAST(cw4.n_dot_w4 AS DOUBLE) / tot.nbt)))
    ) AS nll
  FROM tf
  JOIN keys k USING (g4)
  JOIN cw123 ON k.w123 = cw123.w123
  JOIN cw234 ON k.w234 = cw234.w234
  JOIN cw23 ON k.w23 = cw23.w23
  JOIN cw34 ON k.w34 = cw34.w34
  JOIN cw3 ON k.w3 = cw3.w3
  JOIN cw4 ON k.w4 = cw4.w4
  CROSS JOIN tot
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_fourgrams,
       ROUND(SUM(tf * nll) / SUM(tf), 4) + 0.0 AS avg_nll,
       ROUND(exp(SUM(tf * nll) / SUM(tf)), 4) AS ppl
FROM scored GROUP BY doc_id
ORDER BY doc_id NULLS FIRST
"""


def ext_epoch_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N9] data-constrained mixing plan (Muennighoff et al. posture):
    equal-share token allocation across (lang, source) cells under a
    4-epoch repetition cap, overflow water-filled over 3 fixed rounds
    (operators/sampling.py::epoch_budget_plan). Pure INTEGER allocation
    arithmetic — BIGINT sums, integer-division shares, LEAST caps — so
    the oracle replays the rounds bit-exactly as unrolled CTEs."""
    from dbt_meshify_spark.operators.sampling import epoch_budget_plan

    docs = load_table(spark, sf_dir, "documents")
    # rounds pinned explicitly: the oracle unrolls EXACTLY 3 water-fill
    # rounds, so a future default change must not silently desync them
    return epoch_budget_plan(
        docs, ["lang", "source"], token_budget=450_000, max_epochs=4, rounds=3
    ).orderBy(_asc("lang"), _asc("source"))


QUERIES["ext_epoch_budget_plan"] = ext_epoch_budget_plan

# one water-fill round: 1-row (used, pool) totals, uniform integer share to
# uncapped groups, LEAST cap. MATERIALIZED: a{r} is referenced by t{r+1} AND
# a{r+1} (the trigram lesson — DuckDB inlines multiply-referenced CTEs)
_EPOCH_ROUNDS = "".join(
    f"""
t{r} AS (
  SELECT COALESCE(SUM(alloc), 0) AS used,
         COALESCE(SUM(CASE WHEN alloc < cap_tokens THEN 1 END), 0) AS pool
  FROM a{r - 1}
),
a{r} AS MATERIALIZED (
  SELECT lang, source, n_tokens, cap_tokens,
         CAST(LEAST(alloc + CASE WHEN t{r}.pool > 0 AND alloc < cap_tokens
                             AND 450000 - t{r}.used > 0
                            THEN (450000 - t{r}.used) // greatest(t{r}.pool, 1)
                            ELSE 0 END,
               cap_tokens) AS BIGINT) AS alloc
  FROM a{r - 1}, t{r}
),"""
    for r in (1, 2, 3)
)

ORACLES["ext_epoch_budget_plan"] = f"""
WITH sizes AS MATERIALIZED (
  SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang, source
),
a0 AS MATERIALIZED (
  SELECT lang, source, n_tokens, n_tokens * 4 AS cap_tokens,
         CAST(0 AS BIGINT) AS alloc
  FROM sizes
),{_EPOCH_ROUNDS}
fin AS (SELECT * FROM a3)
SELECT lang, source, n_tokens, cap_tokens, alloc AS alloc_tokens,
       CASE WHEN n_tokens > 0
            THEN ROUND(CAST(alloc AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4)
                 + 0.0
            ELSE 0.0 END AS epochs,
       ROUND(CAST(alloc AS DOUBLE) / 450000.0, 4) + 0.0 AS budget_frac
FROM fin
ORDER BY lang NULLS FIRST, source NULLS FIRST
"""


def ext_mkn5_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4] MODIFIED Kneser-Ney 5-GRAM LM perplexity
    (operators/lm.py::mkn_ngram_perplexity at n=5) — the ACTUAL published
    CCNet/KenLM filter: 5-gram modified KN (Heafield 2011; Chen & Goodman
    1999). Composes the three-discount count-of-count scheme (per-level
    D1/D2/D3+ with clamp/guard CASEs, released-mass gamma buckets) with
    the order-generic continuation ladder; the operator reproduces the
    hardcoded MKN order-3 tier bit-exactly (asserted in tests). Oracle
    replays all count tables, the four discount-scalar triples, and the
    identical float expression order."""
    from dbt_meshify_spark.operators.lm import mkn_ngram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return (
        mkn_ngram_perplexity(docs, n=5)
        .select(
            "doc_id",
            F.col("n_ngrams").alias("n_fivegrams"),
            "avg_nll",
            "ppl",
        )
        .orderBy(_asc("doc_id"))
    )


QUERIES["ext_mkn5_perplexity"] = ext_mkn5_perplexity


def _mkn_disc_ctes(src: str, cnt: str, name: str) -> str:
    """Chen-Goodman count-of-count discount CTE pair (histogram + Y/D1/D2/D3
    with the exact clamp/guard CASE structure of operators/lm.py's
    _mkn_discounts — same float op order, so the scalars are bit-identical
    across engines). Emits ``hist_{name}`` and ``{name}`` (cols
    {name}1..{name}3); MATERIALIZED: each discount frame is cross-joined
    into the multiply-referenced scored CTE."""
    return f"""
hist_{name} AS (
  SELECT SUM(CASE WHEN {cnt} = 1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN {cnt} = 2 THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN {cnt} = 3 THEN 1 ELSE 0 END) AS n3,
         SUM(CASE WHEN {cnt} = 4 THEN 1 ELSE 0 END) AS n4
  FROM {src}
),
{name} AS MATERIALIZED (
  SELECT
    greatest(CASE WHEN n1 > 0 THEN 1.0 - 2.0 * y * CAST(n2 AS DOUBLE)
                                      / CAST(n1 AS DOUBLE) ELSE 1.0 END,
             0.0) AS {name}1,
    greatest(CASE WHEN n2 > 0 THEN 2.0 - 3.0 * y * CAST(n3 AS DOUBLE)
                                      / CAST(n2 AS DOUBLE) ELSE 2.0 END,
             0.0) AS {name}2,
    greatest(CASE WHEN n3 > 0 THEN 3.0 - 4.0 * y * CAST(n4 AS DOUBLE)
                                      / CAST(n3 AS DOUBLE) ELSE 3.0 END,
             0.0) AS {name}3
  FROM (
    SELECT n1, n2, n3, n4,
           CASE WHEN n1 + 2 * n2 > 0
                THEN CAST(n1 AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) + 2.0 * CAST(n2 AS DOUBLE))
                ELSE 0.5 END AS y
    FROM hist_{name}
  )
),"""


ORACLES["ext_mkn5_perplexity"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
  FROM documents
),
t5 AS MATERIALIZED (SELECT doc_id, l FROM toks WHERE len(l) >= 5),
pos5 AS (SELECT doc_id, l, unnest(range(1, len(l) - 3)) AS i FROM t5),
tf AS MATERIALIZED (
  SELECT doc_id,
         l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]
              || ' ' || l[i+4] AS g5,
         COUNT(*) AS tf
  FROM pos5 GROUP BY doc_id, g5
),
keys AS MATERIALIZED (
  SELECT g5, SUM(tf) AS c_g,
         split_part(g5, ' ', 1) || ' ' || split_part(g5, ' ', 2) || ' '
           || split_part(g5, ' ', 3) || ' ' || split_part(g5, ' ', 4) AS pre,
         split_part(g5, ' ', 2) || ' ' || split_part(g5, ' ', 3) || ' '
           || split_part(g5, ' ', 4) || ' ' || split_part(g5, ' ', 5) AS s4,
         split_part(g5, ' ', 2) || ' ' || split_part(g5, ' ', 3) || ' '
           || split_part(g5, ' ', 4) AS m4,
         split_part(g5, ' ', 3) || ' ' || split_part(g5, ' ', 4) || ' '
           || split_part(g5, ' ', 5) AS s3,
         split_part(g5, ' ', 3) || ' ' || split_part(g5, ' ', 4) AS m3,
         split_part(g5, ' ', 4) || ' ' || split_part(g5, ' ', 5) AS s2,
         split_part(g5, ' ', 4) AS m2,
         split_part(g5, ' ', 5) AS s1
  FROM tf GROUP BY g5
),""" + _mkn_disc_ctes("keys", "c_g", "dt") + r"""
cpre AS MATERIALIZED (
  SELECT pre, SUM(c_g) AS c_pre,
         SUM(CASE WHEN c_g = 1 THEN 1 ELSE 0 END) AS bt1,
         SUM(CASE WHEN c_g = 2 THEN 1 ELSE 0 END) AS bt2,
         SUM(CASE WHEN c_g >= 3 THEN 1 ELSE 0 END) AS bt3p
  FROM keys GROUP BY pre
),
tb4 AS MATERIALIZED (SELECT s4, COUNT(*) AS cc4 FROM keys GROUP BY s4),""" + _mkn_disc_ctes("tb4", "cc4", "dm4") + r"""
cx4 AS MATERIALIZED (
  SELECT split_part(s4, ' ', 1) || ' ' || split_part(s4, ' ', 2) || ' '
           || split_part(s4, ' ', 3) AS m4,
         SUM(cc4) AS n_dot_m4,
         SUM(CASE WHEN cc4 = 1 THEN 1 ELSE 0 END) AS b1_4,
         SUM(CASE WHEN cc4 = 2 THEN 1 ELSE 0 END) AS b2_4,
         SUM(CASE WHEN cc4 >= 3 THEN 1 ELSE 0 END) AS b3p_4
  FROM tb4 GROUP BY 1
),
pos4 AS (SELECT doc_id, l, unnest(range(1, len(l) - 2)) AS i FROM t5),
t4t AS MATERIALIZED (
  SELECT DISTINCT l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] AS h
  FROM pos4
),
tb3 AS MATERIALIZED (
  SELECT split_part(h, ' ', 2) || ' ' || split_part(h, ' ', 3) || ' '
           || split_part(h, ' ', 4) AS s3,
         COUNT(*) AS cc3
  FROM t4t GROUP BY 1
),""" + _mkn_disc_ctes("tb3", "cc3", "dm3") + r"""
cx3 AS MATERIALIZED (
  SELECT split_part(s3, ' ', 1) || ' ' || split_part(s3, ' ', 2) AS m3,
         SUM(cc3) AS n_dot_m3,
         SUM(CASE WHEN cc3 = 1 THEN 1 ELSE 0 END) AS b1_3,
         SUM(CASE WHEN cc3 = 2 THEN 1 ELSE 0 END) AS b2_3,
         SUM(CASE WHEN cc3 >= 3 THEN 1 ELSE 0 END) AS b3p_3
  FROM tb3 GROUP BY 1
),
pos3 AS (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i FROM t5),
t3t AS MATERIALIZED (
  SELECT DISTINCT l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS h FROM pos3
),
tb2 AS MATERIALIZED (
  SELECT split_part(h, ' ', 2) || ' ' || split_part(h, ' ', 3) AS s2,
         COUNT(*) AS cc2
  FROM t3t GROUP BY 1
),""" + _mkn_disc_ctes("tb2", "cc2", "dm2") + r"""
cx2 AS MATERIALIZED (
  SELECT split_part(s2, ' ', 1) AS m2, SUM(cc2) AS n_dot_m2,
         SUM(CASE WHEN cc2 = 1 THEN 1 ELSE 0 END) AS b1_2,
         SUM(CASE WHEN cc2 = 2 THEN 1 ELSE 0 END) AS b2_2,
         SUM(CASE WHEN cc2 >= 3 THEN 1 ELSE 0 END) AS b3p_2
  FROM tb2 GROUP BY 1
),
pos2 AS (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM t5),
bt AS MATERIALIZED (SELECT DISTINCT l[i] || ' ' || l[i+1] AS bg FROM pos2),
cw1 AS MATERIALIZED (
  SELECT split_part(bg, ' ', 2) AS s1, COUNT(*) AS n_dot_w FROM bt GROUP BY 1
),
tot AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS nbt FROM bt),
scored AS (
  SELECT tf.doc_id, tf.tf,
    -ln(
      greatest(CAST(k.c_g AS DOUBLE)
                 - (CASE WHEN k.c_g = 1 THEN dt.dt1
                         WHEN k.c_g = 2 THEN dt.dt2
                         ELSE dt.dt3 END),
               0.0) / CAST(cpre.c_pre AS DOUBLE)
      + ((dt.dt1 * CAST(cpre.bt1 AS DOUBLE)
          + dt.dt2 * CAST(cpre.bt2 AS DOUBLE)
          + dt.dt3 * CAST(cpre.bt3p AS DOUBLE)) / CAST(cpre.c_pre AS DOUBLE))
      * (greatest(CAST(tb4.cc4 AS DOUBLE)
                    - (CASE WHEN tb4.cc4 = 1 THEN dm4.dm41
                            WHEN tb4.cc4 = 2 THEN dm4.dm42
                            ELSE dm4.dm43 END),
                  0.0) / CAST(cx4.n_dot_m4 AS DOUBLE)
         + ((dm4.dm41 * CAST(cx4.b1_4 AS DOUBLE)
             + dm4.dm42 * CAST(cx4.b2_4 AS DOUBLE)
             + dm4.dm43 * CAST(cx4.b3p_4 AS DOUBLE))
              / CAST(cx4.n_dot_m4 AS DOUBLE))
         * (greatest(CAST(tb3.cc3 AS DOUBLE)
                       - (CASE WHEN tb3.cc3 = 1 THEN dm3.dm31
                               WHEN tb3.cc3 = 2 THEN dm3.dm32
                               ELSE dm3.dm33 END),
                     0.0) / CAST(cx3.n_dot_m3 AS DOUBLE)
            + ((dm3.dm31 * CAST(cx3.b1_3 AS DOUBLE)
                + dm3.dm32 * CAST(cx3.b2_3 AS DOUBLE)
                + dm3.dm33 * CAST(cx3.b3p_3 AS DOUBLE))
                 / CAST(cx3.n_dot_m3 AS DOUBLE))
            * (greatest(CAST(tb2.cc2 AS DOUBLE)
                          - (CASE WHEN tb2.cc2 = 1 THEN dm2.dm21
                                  WHEN tb2.cc2 = 2 THEN dm2.dm22
                                  ELSE dm2.dm23 END),
                        0.0) / CAST(cx2.n_dot_m2 AS DOUBLE)
               + ((dm2.dm21 * CAST(cx2.b1_2 AS DOUBLE)
                   + dm2.dm22 * CAST(cx2.b2_2 AS DOUBLE)
                   + dm2.dm23 * CAST(cx2.b3p_2 AS DOUBLE))
                    / CAST(cx2.n_dot_m2 AS DOUBLE))
               * (CAST(cw1.n_dot_w AS DOUBLE) / tot.nbt))))
    ) AS nll
  FROM tf
  JOIN keys k USING (g5)
  JOIN cpre ON k.pre = cpre.pre
  JOIN tb4 ON k.s4 = tb4.s4
  JOIN cx4 ON k.m4 = cx4.m4
  JOIN tb3 ON k.s3 = tb3.s3
  JOIN cx3 ON k.m3 = cx3.m3
  JOIN tb2 ON k.s2 = tb2.s2
  JOIN cx2 ON k.m2 = cx2.m2
  JOIN cw1 ON k.s1 = cw1.s1
  CROSS JOIN tot CROSS JOIN dt CROSS JOIN dm4 CROSS JOIN dm3 CROSS JOIN dm2
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_fivegrams,
       ROUND(SUM(tf * nll) / SUM(tf), 4) + 0.0 AS avg_nll,
       ROUND(exp(SUM(tf * nll) / SUM(tf)), 4) AS ppl
FROM scored GROUP BY doc_id
ORDER BY doc_id NULLS FIRST
"""


def ext_stream_late_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N8] watermark LATE-DATA accounting as a checked query: the events
    table is split into TWO on-time files (days >= min_day + 3, striped by
    event_id parity so both span the full range) and a PLANTED-LATE file
    (the first three calendar days), streamed with
    ``maxFilesPerTrigger=1`` + ``availableNow`` so the on-time batches run
    FIRST and advance the watermark to max(ts) - 1h — far past every
    planted day's window end — before the late file arrives. The
    streaming tumbling-day aggregation must therefore DROP every planted
    row, so the drained result equals the batch daily counts WITHOUT the
    planted days: the late-data policy itself is what the DuckDB oracle
    hash-checks (numRowsDroppedByWatermark > 0 on the final batch,
    asserted in tests with a one-file positive control).

    Two on-time batches, not one: since SPARK-40925 the LATE-EVENTS
    filter uses the watermark one batch behind the EVICTION watermark
    (verified empirically on this engine: a 2-file layout drops nothing,
    3 files drop all planted rows), so the second on-time batch exists
    purely to confirm the watermark before the late file lands. Update
    mode; each surviving window is updated in at most two batches and the
    max-agg over the sink collapses re-emissions (a window's count only
    grows).

    Scale: the split is a one-pass partitioned write; watermark state is
    O(open windows), the N8 contract — late data is filtered BEFORE the
    aggregation state, so a late flood cannot grow state at 100 TB.
    """
    import os

    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        sized_state_partitions,
        tumbling_window_counts,
    )

    events = load_table(spark, sf_dir, "events")
    cut = events.agg(
        F.date_add(F.to_date(F.date_trunc("day", F.min("ts"))), 3).alias("cut")
    ).collect()[0]["cut"]

    d = _stream_scratch("dms_late_drops_")
    on_time = events.filter(F.to_date(F.date_trunc("day", F.col("ts"))) >= F.lit(cut))
    late = events.filter(F.to_date(F.date_trunc("day", F.col("ts"))) < F.lit(cut))
    on_time.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(d, "f1")
    )
    on_time.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(d, "f2")
    )
    late.coalesce(1).write.parquet(os.path.join(d, "f3"))
    # file order = modification time (pinned explicitly), so both on-time
    # batches always precede the late file
    now = __import__("time").time()
    for i, name in enumerate(("f1", "f2", "f3")):
        p = os.path.join(d, name)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (now - 60.0 + i * 10, now - 60.0 + i * 10))

    _STREAM_COUNTER[0] += 1
    stream = read_events_stream(
        spark, d + "/*/", nanos=False, max_files_per_trigger=1
    )
    agg = tumbling_window_counts(stream, window="1 day", watermark="1 hour")
    out = run_to_memory(
        agg,
        f"stream_late_drops_{_STREAM_COUNTER[0]}",
        "update",
        state_partitions=sized_state_partitions(spark, d),
    )
    return (
        out.select(
            F.col("window_start").cast("date").alias("day"),
            "event_type",
            F.col("n").cast("bigint").alias("n"),
        )
        .groupBy("day", "event_type")
        .agg(F.max("n").alias("n"))
        .orderBy(_asc("day"), _asc("event_type"))
    )


QUERIES["ext_stream_late_drops"] = ext_stream_late_drops

# the oracle IS the late-drop policy: batch daily counts excluding the
# planted (first three calendar days) late file entirely
ORACLES["ext_stream_late_drops"] = """
WITH cutoff AS (
  SELECT CAST(date_trunc('day', MIN(ts)) AS DATE) + 3 AS cut FROM events
)
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events, cutoff
WHERE CAST(date_trunc('day', ts) AS DATE) >= cut
GROUP BY 1, 2
ORDER BY day NULLS FIRST, event_type NULLS FIRST
"""


def ext_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] unigram-LM (SentencePiece-style) tokenizer training
    (operators/unigram.py::train_unigram) — the OTHER mainstream
    training-data tokenizer next to BPE (Kudo 2018): deterministic
    Viterbi-EM over the Zipf-bounded word-type table, fixed piece
    inventory (every <=4-char substring at min_count 2, chars always
    kept), Laplace-smoothed integer-count model, TWO fixed EM rounds.
    The output is FLOAT-FREE (rank, piece, usage count), and every DP
    argmin ties on (cost, start_pos) over identically-built doubles, so
    the oracle replays both EM rounds bit-exactly: per-position DP CTEs,
    backpointer-walk CTEs, usage re-aggregation — all MATERIALIZED."""
    from dbt_meshify_spark.operators.unigram import train_unigram

    docs = load_table(spark, sf_dir, "documents")
    return train_unigram(
        docs,
        vocab_size=64,
        n_iters=2,
        max_piece_len=4,
        max_word_len=12,
        min_count=2,
    ).orderBy(_asc("rank"))


QUERIES["ext_unigram_train"] = ext_unigram_train

_UNI_L, _UNI_M = 4, 12


def _unigram_em_round(t: int, counts_src: str) -> str:
    """One unrolled Viterbi-EM round: model NLLs off ``counts_src``, M
    per-position DP CTEs (argmin via ROW_NUMBER over cost, pos — the
    operator's tie-break), M backpointer-walk CTEs, usage re-aggregation.
    Everything MATERIALIZED (each DP CTE feeds up to L later positions
    plus the walk union — the exponential-inlining trap otherwise)."""
    parts = [
        f"""
den{t} AS (
  SELECT CAST(SUM(cnt) AS DOUBLE) + CAST(COUNT(*) AS DOUBLE) AS denom
  FROM {counts_src}
),
m{t} AS MATERIALIZED (
  SELECT piece, -ln((CAST(cnt AS DOUBLE) + 1.0) / d.denom) AS nll
  FROM {counts_src}, den{t} d
),
d{t}_0 AS MATERIALIZED (
  SELECT w, 0 AS pos, CAST(0.0 AS DOUBLE) AS cost, -1 AS bp, '' AS piece
  FROM wt
),"""
    ]
    for j in range(1, _UNI_M + 1):
        src = " UNION ALL ".join(
            f"SELECT * FROM d{t}_{k}" for k in range(max(0, j - _UNI_L), j)
        )
        parts.append(
            f"""
d{t}_{j} AS MATERIALIZED (
  SELECT w, pos, cost, bp, piece FROM (
    SELECT a.w, {j} AS pos, a.cost + m.nll AS cost, a.pos AS bp, m.piece,
           ROW_NUMBER() OVER (PARTITION BY a.w
                              ORDER BY a.cost + m.nll, a.pos) AS rn
    FROM ({src}) a
    JOIN m{t} m ON m.piece = substr(a.w, a.pos + 1, {j} - a.pos)
    WHERE len(a.w) >= {j}
  ) WHERE rn = 1
),"""
        )
    du = " UNION ALL ".join(
        f"SELECT * FROM d{t}_{j}" for j in range(1, _UNI_M + 1)
    )
    parts.append(f"""
du{t} AS MATERIALIZED ({du}),
b{t}_0 AS (SELECT w, len(w) AS pos FROM wt),""")
    for s in range(1, _UNI_M + 1):
        parts.append(
            f"""
b{t}_{s} AS MATERIALIZED (
  SELECT b.w, d.bp AS pos, d.piece
  FROM b{t}_{s - 1} b JOIN du{t} d ON d.w = b.w AND d.pos = b.pos
  WHERE b.pos > 0
),"""
        )
    walk = " UNION ALL ".join(
        f"SELECT w, piece FROM b{t}_{s}" for s in range(1, _UNI_M + 1)
    )
    parts.append(
        f"""
usage{t} AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM ({walk}) u JOIN wt USING (w)
  GROUP BY piece
),"""
    )
    return "".join(parts)


ORACLES["ext_unigram_train"] = (
    r"""
WITH wt AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
    FROM documents
  )
  WHERE w <> '' AND len(w) <= """
    + str(_UNI_M)
    + r"""
  GROUP BY w
),
p1 AS (SELECT w, freq, unnest(range(1, len(w) + 1)) AS i FROM wt),
p2 AS (
  SELECT w, freq, i,
         unnest(range(1, least("""
    + str(_UNI_L)
    + r""", len(w) - i + 1) + 1)) AS l
  FROM p1
),
pieces0 AS MATERIALIZED (
  SELECT substr(w, i, l) AS piece, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM p2 GROUP BY 1
  HAVING SUM(freq) >= 2 OR len(substr(w, i, l)) = 1
),"""
    + _unigram_em_round(1, "pieces0")
    + r"""
counts1 AS MATERIALIZED (
  SELECT p.piece, CAST(COALESCE(u.cnt, 0) AS BIGINT) AS cnt
  FROM pieces0 p LEFT JOIN usage1 u USING (piece)
),"""
    + _unigram_em_round(2, "counts1")
    + r"""
fin AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS INTEGER)
           AS rank,
         piece, cnt AS freq
  FROM usage2 WHERE cnt > 0
)
SELECT rank, piece, freq FROM fin WHERE rank <= 64
ORDER BY rank NULLS FIRST
"""
)


def ext_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N4/N9] hash-checked unigram-LM ENCODE — the full train->encode
    pipeline oracle-replayed end-to-end (the ext_bpe_encode_dist posture
    for the unigram family): fit by the same fixed 2-round Viterbi-EM as
    ext_unigram_train, segment each distinct word type once under the
    FINAL round's model, rebuild per-doc token sequences from
    occurrences. The oracle replays the whole fit and reads each word's
    segmentation off the last EM round's backpointer walk (pieces in
    forward order = walk steps DESC)."""
    from dbt_meshify_spark.operators.unigram import unigram_encode_delimited

    docs = load_table(spark, sf_dir, "documents")
    enc = unigram_encode_delimited(
        docs, n_iters=2, max_piece_len=4, max_word_len=12, min_count=2
    )
    return enc.select(
        "doc_id",
        "n_unigram_tokens",
        F.concat_ws(" ", F.slice("unigram_tokens", 1, 5)).alias("unigram_head"),
    ).orderBy(_asc("doc_id"))


QUERIES["ext_unigram_encode"] = ext_unigram_encode

ORACLES["ext_unigram_encode"] = (
    r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
  FROM documents
),
occ AS (
  SELECT doc_id, i AS pos, l[i] AS w
  FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM toks)
  WHERE l[i] <> '' AND len(l[i]) <= """
    + str(_UNI_M)
    + r"""
),
wt AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM occ GROUP BY w
),
p1 AS (SELECT w, freq, unnest(range(1, len(w) + 1)) AS i FROM wt),
p2 AS (
  SELECT w, freq, i,
         unnest(range(1, least("""
    + str(_UNI_L)
    + r""", len(w) - i + 1) + 1)) AS l
  FROM p1
),
pieces0 AS MATERIALIZED (
  SELECT substr(w, i, l) AS piece, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM p2 GROUP BY 1
  HAVING SUM(freq) >= 2 OR len(substr(w, i, l)) = 1
),"""
    + _unigram_em_round(1, "pieces0")
    + r"""
counts1 AS MATERIALIZED (
  SELECT p.piece, CAST(COALESCE(u.cnt, 0) AS BIGINT) AS cnt
  FROM pieces0 p LEFT JOIN usage1 u USING (piece)
),"""
    + _unigram_em_round(2, "counts1")
    + r"""
walko AS MATERIALIZED ("""
    + " UNION ALL ".join(
        f"SELECT w, piece, {s} AS s FROM b2_{s}" for s in range(1, _UNI_M + 1)
    )
    + r"""),
wseg AS MATERIALIZED (
  SELECT w, string_split(string_agg(piece, ' ' ORDER BY s DESC), ' ') AS wtoks
  FROM walko GROUP BY w
),
docs_enc AS (
  SELECT o.doc_id, flatten(list(e.wtoks ORDER BY o.pos)) AS fl
  FROM occ o JOIN wseg e USING (w) GROUP BY o.doc_id
)
SELECT doc_id, CAST(len(fl) AS BIGINT) AS n_unigram_tokens,
       array_to_string(fl[1:5], ' ') AS unigram_head
FROM docs_enc
ORDER BY doc_id NULLS FIRST
"""
)


def ext_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4 sketch tier, hash-checked] count-min heavy hitters over document
    tokens (operators/sketches.py): a 4x1024 md5-salted counter sketch —
    construction-bounded, mergeable, ONE partial-aggregated cell shuffle —
    probed with 4 broadcast joins (no explode/re-group). Unlike
    ext_approx_sketches (HLL/t-digest internals differ per engine), the
    explicit hash functions make every cell bit-reproducible, so the DuckDB
    oracle replays the sketch itself: the first hash-checked sketch query."""
    from dbt_meshify_spark.operators.dedup import tokens_col
    from dbt_meshify_spark.operators.sketches import cms_heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("token"))
    out = cms_heavy_hitters(toks, "token", threshold_frac=0.005, depth=4, width=1024)
    return out.orderBy(_asc("token"))


QUERIES["ext_cms_heavy_hitters"] = ext_cms_heavy_hitters

ORACLES["ext_cms_heavy_hitters"] = (
    r"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok FROM documents
),
tru AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_count FROM toks GROUP BY tok),
hs AS (
  SELECT 0 AS r, tok, md5('cms0|' || tok) AS hx FROM toks
  UNION ALL SELECT 1, tok, md5('cms1|' || tok) FROM toks
  UNION ALL SELECT 2, tok, md5('cms2|' || tok) FROM toks
  UNION ALL SELECT 3, tok, md5('cms3|' || tok) FROM toks
),
sk AS (
  SELECT r, CAST(({HEX8}) AS BIGINT) % 1024 AS b, CAST(COUNT(*) AS BIGINT) AS c
  FROM hs GROUP BY 1, 2
),
ph AS (
  SELECT tok, 0 AS r, md5('cms0|' || tok) AS hx FROM tru
  UNION ALL SELECT tok, 1, md5('cms1|' || tok) FROM tru
  UNION ALL SELECT tok, 2, md5('cms2|' || tok) FROM tru
  UNION ALL SELECT tok, 3, md5('cms3|' || tok) FROM tru
),
pc AS (SELECT tok, r, CAST(({HEX8}) AS BIGINT) % 1024 AS b FROM ph),
est AS (
  SELECT pc.tok, MIN(COALESCE(sk.c, 0)) AS cms_est
  FROM pc LEFT JOIN sk ON pc.r = sk.r AND pc.b = sk.b
  GROUP BY pc.tok
),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks)
SELECT e.tok AS token, CAST(e.cms_est AS BIGINT) AS cms_est, t.true_count,
       CAST(e.cms_est - t.true_count AS BIGINT) AS overcount
FROM est e JOIN tru t ON e.tok = t.tok CROSS JOIN tot
WHERE e.cms_est >= 0.005 * tot.n
ORDER BY token NULLS FIRST
""".replace("{HEX8}", _hex8_sum("hx"))
)


def ext_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N-decontam approx tier, hash-checked] Bloom-prefiltered trigram
    decontamination audit (operators/sketches.py::bloom_decontaminate):
    the eval gram set is compressed to a <=8192-row distinct-position
    relation (constant-size broadcast vs eval_gram_set's O(distinct grams)),
    membership is 3 md5-salted broadcast joins — text never shuffles; the
    per-doc report quantifies the deterministic false positives against the
    exact join (bloom_matched >= exact_matched always: no false negatives).
    Same train/eval split as ext_decontaminate."""
    from dbt_meshify_spark.operators.sketches import bloom_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return bloom_decontaminate(train, eval_df).orderBy(_asc("doc_id"))


QUERIES["ext_bloom_decontaminate"] = ext_bloom_decontaminate

ORACLES["ext_bloom_decontaminate"] = (
    f"""
WITH {_TRIGRAMS_CTE},
"""
    + r"""
ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0),
evh AS (
  SELECT md5('bl0|' || gram) AS hx FROM ev
  UNION ALL SELECT md5('bl1|' || gram) FROM ev
  UNION ALL SELECT md5('bl2|' || gram) FROM ev
),
pos AS (SELECT DISTINCT CAST(({HEX8}) AS BIGINT) % 8192 AS p FROM evh),
tr AS (SELECT doc_id, gram FROM grams WHERE doc_id % 20 <> 0),
trh AS (
  SELECT doc_id, gram, md5('bl0|' || gram) AS hx FROM tr
  UNION ALL SELECT doc_id, gram, md5('bl1|' || gram) FROM tr
  UNION ALL SELECT doc_id, gram, md5('bl2|' || gram) FROM tr
),
trp AS (SELECT doc_id, gram, CAST(({HEX8}) AS BIGINT) % 8192 AS p FROM trh),
hit AS (
  SELECT t.doc_id, t.gram, (COUNT(pos.p) = 3) AS bloom_hit
  FROM trp t LEFT JOIN pos ON t.p = pos.p
  GROUP BY t.doc_id, t.gram
),
agg AS (
  SELECT h.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN h.bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS bloom_matched,
         CAST(SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS exact_matched
  FROM hit h LEFT JOIN ev e ON h.gram = e.gram
  GROUP BY h.doc_id
)
SELECT doc_id, n_grams, bloom_matched, exact_matched,
       CAST(bloom_matched - exact_matched AS BIGINT) AS false_pos,
       ROUND(CAST(bloom_matched AS DOUBLE) / n_grams, 4) + 0.0 AS bloom_overlap,
       (ROUND(CAST(bloom_matched AS DOUBLE) / n_grams, 4) + 0.0 >= 0.2) AS contaminated_bloom
FROM agg ORDER BY doc_id NULLS FIRST
""".replace("{HEX8}", _hex8_sum("hx"))
)


def ext_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Layout tier] static-grid Z-order layout report over events on
    (user_id, day-of-month) (sources/layout.py::zorder_file_stats): min/max
    rank each dimension into 8 bits off a 1-row broadcast stats pass,
    Morton-interleave as a fixed codegen integer expression, assign
    equal-width z-range files, and report per-file span of BOTH dimensions
    — the multi-column data-skipping guarantee (each file covers
    ~range/sqrt(files) of EVERY dim, where a 1-d sort leaves the second
    dim unpruned). Deterministic sibling of zorder_layout's
    repartitionByRange writer; fully oracle-checked."""
    from dbt_meshify_spark.sources.layout import zorder_file_stats

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day_of_month", F.dayofmonth("ts")
    )
    out = zorder_file_stats(
        ev, dims=["user_id", "day_of_month"], bits=8, target_files=16
    )
    return out.orderBy(_asc("file_id"))


QUERIES["ext_zorder_layout"] = ext_zorder_layout

_Z_TERMS = " + ".join(
    f"(((ub >> {i}) & 1) << {2 * i + 1}) + (((db >> {i}) & 1) << {2 * i})"
    for i in range(8)
)

ORACLES["ext_zorder_layout"] = f"""
WITH base AS (
  SELECT user_id AS u, CAST(date_part('day', ts) AS BIGINT) AS d FROM events
),
st AS (
  SELECT MIN(u) AS umin, MAX(u) AS umax, MIN(d) AS dmin, MAX(d) AS dmax
  FROM base
),
bk AS (
  SELECT u, d,
    CAST(FLOOR(CAST(u - umin AS DOUBLE) * 256.0
               / CAST(umax - umin + 1 AS DOUBLE)) AS BIGINT) AS ub,
    CAST(FLOOR(CAST(d - dmin AS DOUBLE) * 256.0
               / CAST(dmax - dmin + 1 AS DOUBLE)) AS BIGINT) AS db
  FROM base CROSS JOIN st
),
f AS (SELECT u, d, CAST(({_Z_TERMS}) >> 12 AS INT) AS file_id FROM bk)
SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(MIN(u) AS BIGINT) AS user_id_min,
  CAST(MAX(u) AS BIGINT) AS user_id_max,
  CAST(MAX(u) - MIN(u) AS BIGINT) AS user_id_span,
  CAST(MIN(d) AS BIGINT) AS day_of_month_min,
  CAST(MAX(d) AS BIGINT) AS day_of_month_max,
  CAST(MAX(d) - MIN(d) AS BIGINT) AS day_of_month_span
FROM f GROUP BY file_id
ORDER BY file_id NULLS FIRST
"""


def ext_stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6 + A4 sketch tier] STREAMING count-min frequency monitor: the
    documents corpus arrives as a file stream, each micro-batch appends its
    own <=4096 sketch cells, and the merged state is the cell-wise sum
    (streaming/documents.py::stream_cms_heavy_hitters) — fixed-size
    mergeable state, the streaming twin of ext_cms_heavy_hitters. Drained
    availableNow the merged sketch is value-equal to the batch build, so
    it shares that oracle."""

    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_cms_heavy_hitters,
    )

    docs = load_table(spark, sf_dir, "documents")
    feed = read_documents_stream(
        spark, f"{sf_dir.rstrip('/')}/documents.parquet", max_files_per_trigger=1
    )
    out_dir = _stream_scratch("stream_cms_")
    with _batch_width_pin(spark, f"{sf_dir.rstrip('/')}/documents.parquet"):
        out = stream_cms_heavy_hitters(feed, docs, out_dir)
    return out.orderBy(_asc("token"))


QUERIES["ext_stream_cms_heavy_hitters"] = ext_stream_cms_heavy_hitters
ORACLES["ext_stream_cms_heavy_hitters"] = ORACLES["ext_cms_heavy_hitters"]



def _vbucket_nan_pinned():
    """NaN-pinned sensitive value bucket ``floor(value / 100)`` — ONE copy
    (plus the `_VBUCKET_SQL` twin below) because the NaN policy is
    load-bearing cross-engine: Spark's non-ANSI CAST(floor(NaN)) buckets
    silently while DuckDB's CAST raises, so NaN maps to a NULL bucket on
    BOTH engines (grouped like any other value by the privacy audits)."""
    # clamp in the DOUBLE domain before the BIGINT cast (the _grid_bucket
    # discipline): an extreme outlier's floor saturates in Spark's
    # non-ANSI cast but RAISES in DuckDB — +-2^62 is exactly double-
    # representable and clamps identically on both engines
    b = F.least(
        F.lit(float(1 << 62)),
        F.greatest(
            F.lit(-float(1 << 62)),
            F.floor(F.col("value") / F.lit(100.0)).cast("double"),
        ),
    ).cast("bigint")
    return F.when(F.isnan(F.col("value")), F.lit(None).cast("bigint")).otherwise(b)


_VBUCKET_SQL = (
    "CASE WHEN isnan(value) THEN NULL "
    "ELSE CAST(LEAST(4611686018427387904.0, GREATEST(-4611686018427387904.0, "
    "FLOOR(value / 100.0))) AS BIGINT) END"
)


def ext_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N10 privacy tier] k-anonymity audit of the events release under the
    quasi-identifier (event_type, day, value-bucket)
    (operators/privacy.py::k_anonymity_report): per-QI-group row and
    distinct-user counts with the at-risk flag (size < k OR users < k) —
    the re-identification screen run before behavioral data feeds
    features. One partial-aggregated shuffle on the QI key."""
    from dbt_meshify_spark.operators.privacy import k_anonymity_report

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        _vbucket_nan_pinned().alias("vbucket"),
        "user_id",
    )
    out = k_anonymity_report(ev, ["event_type", "day", "vbucket"], "user_id", k=5)
    return out.orderBy(_asc("event_type"), _asc("day"), _asc("vbucket"))


QUERIES["ext_k_anonymity"] = ext_k_anonymity

ORACLES["ext_k_anonymity"] = f"""
WITH g AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         {_VBUCKET_SQL} AS vbucket, user_id
  FROM events
)
SELECT event_type, day, vbucket,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       (COUNT(*) < 5 OR COUNT(DISTINCT user_id) < 5) AS at_risk
FROM g GROUP BY 1, 2, 3
ORDER BY event_type NULLS FIRST, day NULLS FIRST, vbucket NULLS FIRST
"""


def ext_bounded_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N10 privacy tier] bounded-contribution release per event_type
    (operators/privacy.py::bounded_contribution_agg): first-10 events per
    (user, type) in (ts, event_id) order, values clamped to [0, 100] and
    quantized to integer hundredths (IEEE floor — order-free integer sums,
    exactly replayable), so the released sum's user-level sensitivity is
    certified <= 10 * 100 * 100 units — the differential-privacy
    preparation primitives (noise addition is a scalar draw on top and
    has no deterministic oracle). max_user_units witnesses the bound."""
    from dbt_meshify_spark.operators.privacy import bounded_contribution_agg

    ev = load_table(spark, sf_dir, "events")
    out = bounded_contribution_agg(
        ev, ["event_type"], max_per_user=10, lo=0.0, hi=100.0
    )
    return out.orderBy(_asc("event_type"))


QUERIES["ext_bounded_contribution"] = ext_bounded_contribution

ORACLES["ext_bounded_contribution"] = """
WITH r AS (
  SELECT event_type, user_id, value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, event_type
           ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS rn
  FROM events WHERE value IS NOT NULL
),
kept AS (
  SELECT event_type, user_id,
         CAST(FLOOR(LEAST(GREATEST(value, 0.0), 100.0) * 100.0) AS BIGINT)
           AS units
  FROM r WHERE rn <= 10
),
pu AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(units) AS BIGINT) AS uu
  FROM kept GROUP BY 1, 2
),
dropped AS (
  SELECT event_type AS et, CAST(COUNT(*) AS BIGINT) AS n_capped
  FROM r WHERE rn > 10 GROUP BY 1
)
SELECT pu.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(n) AS BIGINT) AS n_kept,
       CAST(COALESCE(MAX(d.n_capped), 0) AS BIGINT) AS n_capped,
       CAST(SUM(uu) AS BIGINT) AS sum_units,
       CAST(MAX(uu) AS BIGINT) AS max_user_units
FROM pu LEFT JOIN dropped d ON pu.event_type = d.et
GROUP BY pu.event_type
ORDER BY pu.event_type NULLS FIRST
"""


def ext_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N10 privacy tier] l-diversity audit of the events release
    (operators/privacy.py::l_diversity_report): per QI group (event_type,
    day), distinct-count and recursive (c,l)-diversity of the sensitive
    value bucket — the standard screen AFTER k-anonymity (a big group
    whose sensitive attribute is near-constant still leaks it;
    Machanavajjhala 2007). l=3, c=2; all checked columns are integer
    counts, integer-comparison flags, or a single integer ratio — the
    Shannon-entropy audit column stays out of the hash-checked output by
    design (double-sum order hazard, SURVEY §2.7)."""
    from dbt_meshify_spark.operators.privacy import l_diversity_report

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        _vbucket_nan_pinned().alias("vbucket"),
    )
    out = l_diversity_report(ev, ["event_type", "day"], "vbucket", l=3, c=2)
    return out.drop("entropy").orderBy(_asc("event_type"), _asc("day"))


QUERIES["ext_l_diversity"] = ext_l_diversity

ORACLES["ext_l_diversity"] = f"""
WITH g AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         {_VBUCKET_SQL} AS vbucket
  FROM events
),
sv AS (
  SELECT event_type, day, vbucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM g GROUP BY 1, 2, 3
),
r AS (
  SELECT event_type, day, vbucket, cnt,
         ROW_NUMBER() OVER (
           PARTITION BY event_type, day
           ORDER BY cnt DESC, vbucket ASC NULLS FIRST) AS rk
  FROM sv
),
agg AS (
  SELECT event_type, day,
         CAST(SUM(cnt) AS BIGINT) AS group_size,
         CAST(COUNT(*) AS BIGINT) AS n_sensitive,
         CAST(MAX(cnt) AS BIGINT) AS top_count,
         CAST(SUM(CASE WHEN rk <= 2 THEN cnt ELSE 0 END) AS BIGINT) AS head_sum
  FROM r GROUP BY 1, 2
)
SELECT event_type, day, group_size, n_sensitive, top_count,
       ROUND(CAST(top_count AS DOUBLE) / CAST(group_size AS DOUBLE), 4) + 0.0
         AS max_share,
       (n_sensitive < 3) AS at_risk_distinct,
       (n_sensitive < 3 OR top_count >= 2 * (group_size - head_sum))
         AS at_risk_recursive
FROM agg
ORDER BY event_type NULLS FIRST, day NULLS FIRST
"""


def ext_stream_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6/N10 privacy tier] STREAMING l-diversity monitor: the events feed
    arrives as a file stream, each micro-batch reduces to its own
    (QI, sensitive) count cells, and the merged count table feeds the SAME
    report tail as the batch audit
    (streaming/events.py::stream_l_diversity) — live release-risk flags at
    Zipf-bounded state. Drained availableNow it equals the batch audit and
    shares ext_l_diversity's oracle."""
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        stream_l_diversity,
    )

    feed = read_events_stream(
        spark, f"{sf_dir.rstrip('/')}/events.parquet"
    ).select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        _vbucket_nan_pinned().alias("vbucket"),
    )
    out_dir = _stream_scratch("stream_ldiv_")
    with _batch_width_pin(spark, f"{sf_dir.rstrip('/')}/events.parquet"):
        out = stream_l_diversity(
            feed, out_dir, ["event_type", "day"], "vbucket", l=3, c=2
        )
    return out.drop("entropy").orderBy(_asc("event_type"), _asc("day"))


QUERIES["ext_stream_l_diversity"] = ext_stream_l_diversity
ORACLES["ext_stream_l_diversity"] = ORACLES["ext_l_diversity"]


def ext_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N10 privacy tier, hash-checked] ε-DP noisy distinct-user counts per
    (event_type, day) via the geometric mechanism
    (operators/privacy.py::dp_noisy_user_counts, eps=0.5, truncation ±40 ~
    2e-9 clipped tail) — the RELEASE step completing the DP pipeline the
    bounded-contribution prep started. The noise draw is derandomized the
    repo's md5 way (u32 of the group key indexes an integer inverse-CDF
    table computed once driver-side), so the oracle replays the sampled
    NOISE itself — the verification a "draw Laplace at release time"
    design can never have. One groupBy + one 81-row broadcast range join."""
    from dbt_meshify_spark.operators.privacy import dp_noisy_user_counts

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("day"), "user_id"
    )
    out = dp_noisy_user_counts(
        ev, ["event_type", "day"], "user_id", eps=0.5, bound=40
    )
    return out.orderBy(_asc("event_type"), _asc("day"))


QUERIES["ext_dp_noisy_counts"] = ext_dp_noisy_counts

from dbt_meshify_spark.operators.privacy import geometric_noise_thresholds as _gnt

_DP_VALUES = ", ".join(f"({z}, {lo}, {hi})" for z, lo, hi in _gnt(0.5, 40))

ORACLES["ext_dp_noisy_counts"] = ("""
WITH g AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_true
  FROM events GROUP BY 1, 2
),
h AS (
  SELECT event_type, day, n_true,
         md5('dp0|' || concat_ws('|', CAST(event_type AS VARCHAR),
                                  CAST(day AS VARCHAR))) AS hx
  FROM g
),
u AS (SELECT event_type, day, n_true, CAST(({HEX8}) AS BIGINT) AS u32 FROM h),
t(z, t_lo, t_hi) AS (VALUES """ + _DP_VALUES + """)
SELECT u.event_type AS event_type, u.day AS day, u.n_true AS n_true,
       CAST(t.z AS BIGINT) AS noise,
       CAST(GREATEST(0, u.n_true + t.z) AS BIGINT) AS n_released
FROM u JOIN t ON u.u32 >= t.t_lo AND u.u32 < t.t_hi
ORDER BY u.event_type NULLS FIRST, u.day NULLS FIRST
""").replace("{HEX8}", _hex8_sum("hx"))


def ext_stream_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6/N10 privacy tier] STREAMING ε-DP count-release monitor: the
    events feed arrives as a file stream, each micro-batch contributes its
    distinct (group, user) pairs, and the drained merged state runs the
    batch noise path (streaming/events.py::stream_dp_noisy_counts) — a
    live noisy-release dashboard whose per-group draw is CONSTANT across
    batches (noise is a pure function of the group key). Drained
    availableNow it equals the batch mechanism and shares
    ext_dp_noisy_counts' oracle."""
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        stream_dp_noisy_counts,
    )

    feed = read_events_stream(
        spark, f"{sf_dir.rstrip('/')}/events.parquet"
    ).select("event_type", F.col("ts").cast("date").alias("day"), "user_id")
    out_dir = _stream_scratch("stream_dpc_")
    with _batch_width_pin(spark, f"{sf_dir.rstrip('/')}/events.parquet"):
        out = stream_dp_noisy_counts(
            feed, out_dir, ["event_type", "day"], "user_id", eps=0.5, bound=40
        )
    return out.orderBy(_asc("event_type"), _asc("day"))


QUERIES["ext_stream_dp_noisy_counts"] = ext_stream_dp_noisy_counts
ORACLES["ext_stream_dp_noisy_counts"] = ORACLES["ext_dp_noisy_counts"]


def ext_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N10 privacy tier, hash-checked] the FULL ε-DP release pipeline per
    event_type (operators/privacy.py::dp_release): contribution cap →
    value clamp → sensitivity-1 quantization (floor(n_kept/cap),
    floor(sum_units/S)) → geometric noise on each lattice → rescale +
    clamp-at-0. Total per-group cost eps_count + eps_sum = 1.0 by
    sequential composition. Everything integer: the oracle replays the cap
    window, the unit sums, both independently-salted noise draws, and the
    released values exactly — the deterministic-verification property no
    draw-at-release Laplace design can offer."""
    from dbt_meshify_spark.operators.privacy import dp_release

    ev = load_table(spark, sf_dir, "events")
    out = dp_release(ev, ["event_type"], max_per_user=10, lo=0.0, hi=100.0)
    return out.orderBy(_asc("event_type"))


QUERIES["ext_dp_release"] = ext_dp_release

# the release pipeline shares the noisy-count lattice (same eps/bound)
_DP_VALUES_C = _DP_VALUES

ORACLES["ext_dp_release"] = ("""
WITH r AS (
  SELECT event_type, user_id, value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, event_type
           ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS rn
  FROM events WHERE value IS NOT NULL
),
kept AS (
  SELECT event_type, user_id,
         CAST(FLOOR(LEAST(GREATEST(value, 0.0), 100.0) * 100.0) AS BIGINT)
           AS units
  FROM r WHERE rn <= 10
),
base AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST(SUM(units) AS BIGINT) AS sum_units
  FROM kept GROUP BY 1
),
hc AS (
  SELECT *, md5('dp0|cnt|' || concat_ws('|', CAST(event_type AS VARCHAR)))
           AS hxc,
         md5('dp0|sum|' || concat_ws('|', CAST(event_type AS VARCHAR)))
           AS hxs
  FROM base
),
u AS (
  SELECT event_type, n_kept, sum_units,
         CAST(({HEXC}) AS BIGINT) AS uc, CAST(({HEXS}) AS BIGINT) AS us
  FROM hc
),
t(z, t_lo, t_hi) AS (VALUES """ + _DP_VALUES_C + """)
SELECT u.event_type AS event_type, u.n_kept AS n_kept,
       u.sum_units AS sum_units,
       CAST(tc.z AS BIGINT) AS noise_count,
       CAST(ts2.z AS BIGINT) AS noise_sum,
       CAST(GREATEST(0, (CAST(FLOOR(u.n_kept / 10) AS BIGINT) + tc.z) * 10)
         AS BIGINT) AS released_count,
       CAST(GREATEST(0,
         (CAST(FLOOR(u.sum_units / 100000) AS BIGINT) + ts2.z) * 100000)
         AS BIGINT) AS released_sum_units
FROM u
JOIN t tc ON u.uc >= tc.t_lo AND u.uc < tc.t_hi
JOIN t ts2 ON u.us >= ts2.t_lo AND u.us < ts2.t_hi
ORDER BY u.event_type NULLS FIRST
""").replace("{HEXC}", _hex8_sum("hxc")).replace("{HEXS}", _hex8_sum("hxs"))


def ext_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4 sketch tier, hash-checked] K-minimum-values distinct-user sketch
    per event_type (operators/sketches.py::kmv_cardinality, k=64 so the
    estimation branch is exercised on the 150-user corpus) — the
    cardinality member of the deterministic sketch trio (CMS frequency,
    Bloom membership, KMV cardinality). Unlike HLL++ (rows-only, register
    internals differ per engine) every retained hash and the estimator
    itself replay in the DuckDB oracle; exact counts ride along as the
    audit."""
    from dbt_meshify_spark.operators.sketches import kmv_cardinality

    ev = load_table(spark, sf_dir, "events")
    out = kmv_cardinality(ev, ["event_type"], "user_id", k=64)
    return out.orderBy(_asc("event_type"))


QUERIES["ext_kmv_distinct"] = ext_kmv_distinct

ORACLES["ext_kmv_distinct"] = (
    r"""
WITH hx0 AS (
  SELECT event_type, md5('kmv|' || CAST(user_id AS VARCHAR)) AS hx
  FROM events WHERE user_id IS NOT NULL
),
dh AS (SELECT DISTINCT event_type, ({HEX8}) AS hv FROM hx0),
r AS (
  SELECT event_type, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv ASC) AS rn
  FROM dh
),
kth AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(hv) AS kmax
  FROM r WHERE rn <= 64 GROUP BY 1
),
ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
),
fin AS (
  SELECT ex.event_type, ex.n_exact, k.n_kept,
         CASE WHEN k.n_kept < 64 THEN CAST(k.n_kept AS DOUBLE)
              ELSE 63.0 / ((CAST(k.kmax AS DOUBLE) + 0.5) / 4294967296.0)
         END AS est
  FROM ex JOIN kth k ON ex.event_type = k.event_type
)
SELECT event_type, n_exact, n_kept,
       ROUND(est, 4) + 0.0 AS kmv_est,
       ROUND(ABS(est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 4)
         + 0.0 AS rel_err
FROM fin ORDER BY event_type NULLS FIRST
""".replace("{HEX8}", _hex8_sum("hx"))
)


def ext_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4 sketch tier, hash-checked] fixed-grid quantile sketch of event
    values per event_type (operators/sketches.py::quantile_sketch_report,
    128 cells over [0, 512)) — the quantile member completing the
    deterministic sketch family (CMS frequency, Bloom membership, KMV
    cardinality). Unlike percentile_approx/t-digest (rows-only in
    ext_approx_sketches — centroid internals differ per engine) every grid
    CELL and the rank interpolation replay in the DuckDB oracle; the exact
    rank-ceil(q*n) value rides along as the audit (a discrete quantile is
    an actual data value, so it is engine-exact where interpolated exact
    quantiles sit on half-ulp boundaries)."""
    from dbt_meshify_spark.operators.sketches import quantile_sketch_report

    ev = load_table(spark, sf_dir, "events")
    out = quantile_sketch_report(
        ev,
        ["event_type"],
        "value",
        qs=[0.25, 0.5, 0.75, 0.9, 0.99],
        lo=0.0,
        hi=512.0,
        width=128,
    )
    return out.orderBy(_asc("event_type"), _asc("q"))


QUERIES["ext_quantile_sketch"] = ext_quantile_sketch

ORACLES["ext_quantile_sketch"] = """
WITH data AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
),
cells AS (
  SELECT event_type,
         CAST(LEAST(127.0, GREATEST(0.0,
           FLOOR((value - 0.0) / 512.0 * 128))) AS INT) AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM data GROUP BY 1, 2
),
cum AS (
  SELECT event_type, b, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY b) AS cum
  FROM cells
),
tot AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1),
qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS q),
targets AS (
  SELECT t.event_type, q.q, t.n,
         CAST(GREATEST(1, CEIL(q.q * t.n)) AS BIGINT) AS r
  FROM tot t CROSS JOIN qs q
),
hit AS (
  SELECT g.event_type, g.q, g.n, g.r,
         0.0 + (CAST(c.b AS DOUBLE)
                + CAST(g.r - (c.cum - c.c) AS DOUBLE) / CAST(c.c AS DOUBLE))
               * 512.0 / 128 AS est
  FROM targets g JOIN cum c ON g.event_type = c.event_type
  WHERE c.cum >= g.r AND (c.cum - c.c) < g.r
),
ranked AS (
  SELECT event_type, value AS v,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY value) AS BIGINT) AS r
  FROM data
)
SELECT h.event_type AS event_type, h.q AS q, h.n AS n,
       ROUND(h.est, 4) + 0.0 AS est_q,
       ROUND(rk.v, 4) + 0.0 AS true_q,
       ROUND(ABS(h.est - rk.v), 4) + 0.0 AS abs_err
FROM hit h JOIN ranked rk ON h.event_type = rk.event_type AND h.r = rk.r
ORDER BY h.event_type NULLS FIRST, h.q NULLS FIRST
"""


def ext_stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6 + A4 sketch tier] STREAMING quantile monitor: the events feed
    arrives as a file stream, each micro-batch appends its own <=128 grid
    cells per event_type, and the merged state is the cell-wise sum
    (streaming/events.py::stream_quantile_sketch) — fixed-size mergeable
    percentile state on a live ingest, the streaming twin of
    ext_quantile_sketch. Drained availableNow the merged cells equal the
    batch build, so it shares that oracle."""
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        stream_quantile_sketch,
    )

    ev = load_table(spark, sf_dir, "events")
    feed = read_events_stream(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    out_dir = _stream_scratch("stream_qsk_")
    with _batch_width_pin(spark, f"{sf_dir.rstrip('/')}/events.parquet"):
        out = stream_quantile_sketch(
            feed,
            ev,
            out_dir,
            ["event_type"],
            "value",
            qs=[0.25, 0.5, 0.75, 0.9, 0.99],
            lo=0.0,
            hi=512.0,
            width=128,
        )
    return out.orderBy(_asc("event_type"), _asc("q"))


QUERIES["ext_stream_quantile_sketch"] = ext_stream_quantile_sketch
ORACLES["ext_stream_quantile_sketch"] = ORACLES["ext_quantile_sketch"]


def ext_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4 sketch tier / N9, hash-checked] WEIGHTED quantiles of document
    length per language, weighted by character mass
    (operators/sketches.py::weighted_quantile_report, grid [0, 1024) x
    128): "under which doc length does fraction q of the corpus's
    characters sit" — the token-budget planner's question, which the
    unweighted row percentile misstates whenever long docs carry most of
    the mass. Integer weight sums keep every cell, the rank r = ceil(q*W),
    and the exact crossing-value audit engine-exact."""
    from dbt_meshify_spark.operators.sketches import weighted_quantile_report

    docs = load_table(spark, sf_dir, "documents")
    out = weighted_quantile_report(
        docs,
        ["lang"],
        "n_chars",
        "n_chars",
        qs=[0.25, 0.5, 0.75, 0.9],
        lo=0.0,
        hi=1024.0,
        width=128,
    )
    return out.orderBy(_asc("lang"), _asc("q"))


QUERIES["ext_weighted_quantile"] = ext_weighted_quantile

ORACLES["ext_weighted_quantile"] = """
WITH data AS (
  SELECT lang, CAST(n_chars AS DOUBLE) AS v, CAST(n_chars AS BIGINT) AS w
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
),
cells AS (
  SELECT lang,
         CAST(LEAST(127.0, GREATEST(0.0,
           FLOOR((v - 0.0) / 1024.0 * 128))) AS INT) AS b,
         CAST(SUM(w) AS BIGINT) AS c
  FROM data GROUP BY 1, 2
),
cum AS (
  SELECT lang, b, c, SUM(c) OVER (PARTITION BY lang ORDER BY b) AS cum
  FROM cells
),
tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS total_w FROM cells GROUP BY 1),
qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS q),
targets AS (
  SELECT t.lang, q.q, t.total_w,
         CAST(GREATEST(1, CEIL(q.q * t.total_w)) AS BIGINT) AS r
  FROM tot t CROSS JOIN qs q
),
hit AS (
  SELECT g.lang, g.q, g.total_w, g.r,
         0.0 + (CAST(c.b AS DOUBLE)
                + CAST(g.r - (c.cum - c.c) AS DOUBLE) / CAST(c.c AS DOUBLE))
               * 1024.0 / 128 AS est
  FROM targets g JOIN cum c ON g.lang = c.lang
  WHERE c.cum >= g.r AND (c.cum - c.c) < g.r
),
ranked AS (
  SELECT lang, v,
         SUM(w) OVER (PARTITION BY lang ORDER BY v, w
                      ROWS UNBOUNDED PRECEDING) AS cw
  FROM data
),
picked AS (
  SELECT rk.lang, h2.q, MIN(rk.v) AS tv
  FROM ranked rk JOIN (SELECT DISTINCT lang, q, r FROM hit) h2
    ON rk.lang = h2.lang
  WHERE rk.cw >= h2.r
  GROUP BY rk.lang, h2.q
)
SELECT h.lang AS lang, h.q AS q, h.total_w AS total_w,
       ROUND(h.est, 4) + 0.0 AS est_q,
       ROUND(p.tv, 4) + 0.0 AS true_q,
       ROUND(ABS(h.est - p.tv), 4) + 0.0 AS abs_err
FROM hit h JOIN picked p ON h.lang = p.lang AND h.q = p.q
ORDER BY h.lang NULLS FIRST, h.q NULLS FIRST
"""


def ext_stream_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6 + A4/N9] STREAMING token-mass quantile monitor: the documents
    corpus arrives as a file stream, each micro-batch appends its own
    integer weight-sum grid cells, and the merged state feeds the SAME
    report tail as the batch operator
    (streaming/events.py::stream_weighted_quantile) — live mass-percentile
    tracking at <= batches x width cells per key. Drained availableNow it
    equals the batch build and shares ext_weighted_quantile's oracle."""
    from dbt_meshify_spark.streaming.documents import read_documents_stream
    from dbt_meshify_spark.streaming.events import stream_weighted_quantile

    docs = load_table(spark, sf_dir, "documents")
    feed = read_documents_stream(
        spark, f"{sf_dir.rstrip('/')}/documents.parquet", max_files_per_trigger=1
    )
    out_dir = _stream_scratch("stream_wq_")
    with _batch_width_pin(spark, f"{sf_dir.rstrip('/')}/documents.parquet"):
        out = stream_weighted_quantile(
            feed,
            docs,
            out_dir,
            ["lang"],
            "n_chars",
            "n_chars",
            qs=[0.25, 0.5, 0.75, 0.9],
            lo=0.0,
            hi=1024.0,
            width=128,
        )
    return out.orderBy(_asc("lang"), _asc("q"))


QUERIES["ext_stream_weighted_quantile"] = ext_stream_weighted_quantile
ORACLES["ext_stream_weighted_quantile"] = ORACLES["ext_weighted_quantile"]


def ext_stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N6/N9] STREAMING weighted sampling: the documents corpus arrives as
    a file stream and each micro-batch contributes only its own ES top-k
    candidates (streaming/documents.py::stream_weighted_sample) — the
    row-intrinsic u^(1/w) key makes the drained sample EXACTLY the batch
    weighted_sample_k row set, so it shares ext_weighted_sample's oracle.
    Fixed-memory live selection over an ingest."""

    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_weighted_sample,
    )

    feed = read_documents_stream(
        spark, f"{sf_dir.rstrip('/')}/documents.parquet", max_files_per_trigger=1
    )
    out_dir = _stream_scratch("stream_es_")
    with _batch_width_pin(spark, f"{sf_dir.rstrip('/')}/documents.parquet"):
        out = stream_weighted_sample(
            feed, out_dir, k=50, weight_col="n_chars", key_cols=["doc_id"]
        )
    return out.select(
        "doc_id",
        "n_chars",
        F.col("draw_rank").cast("bigint").alias("draw_rank"),
    ).orderBy(_asc("doc_id"))


QUERIES["ext_stream_weighted_sample"] = ext_stream_weighted_sample
ORACLES["ext_stream_weighted_sample"] = ORACLES["ext_weighted_sample"]


def ext_sessionize_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W3/N7 + N-skew, hash-checked] hot-key-immune sessionization
    (operators/temporal.py::sessionize_salted): the salted two-phase form
    of q12's gap sessionize — session flags and running numbers compute
    inside (user, hourly-bucket) window partitions (a hot user spreads
    across its active buckets instead of funneling one task; AQE cannot
    split a skewed WINDOW partition, so the salt is the only scale lever),
    then the per-segment offset chain merges boundary-spanning sessions on
    the tiny (user, bucket) frame. The oracle is the NAIVE single-window
    SQL — the strongest equivalence statement: the salted plan must
    reproduce the unsalted semantics bit-for-bit. Skew posture measured by
    scripts/scaling_probe.py --skew (SCALE.md)."""
    from dbt_meshify_spark.operators.temporal import sessionize_salted

    events = load_table(spark, sf_dir, "events")
    out = sessionize_salted(events, gap_s=1800, bucket_s=3600)
    return out.select(
        "user_id", "event_id", F.col("session_id").cast("bigint").alias("session_id")
    ).orderBy(_asc("user_id"), _asc("event_id"))


QUERIES["ext_sessionize_salted"] = ext_sessionize_salted

ORACLES["ext_sessionize_salted"] = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              OR ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, event_id,
       CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
FROM flagged ORDER BY user_id NULLS FIRST, event_id NULLS FIRST
"""


def ext_asof_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N-temporal + N-skew, hash-checked] hot-key-immune as-of join
    (operators/temporal.py::asof_join_salted): the distributed-LOCF
    two-phase form — carried columns fill forward inside (user, hourly
    bucket) window partitions, the tiny per-segment frame chains each
    column's last non-null pick down the bucket sequence, and each row
    coalesces its bucket-local fill with its bucket's chained seed. Same
    click→latest-purchase task as ext_asof_join and the SAME naive oracle:
    the salted plan must reproduce the unsalted semantics bit-for-bit
    (the ext_sessionize_salted discipline)."""
    from dbt_meshify_spark.operators.temporal import asof_join_salted

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
    )
    out = asof_join_salted(
        clicks,
        purchases,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["purchase_id"],
        bucket_s=3600,
    )
    return out.select(
        "event_id", "user_id",
        F.col("_matched_ts").alias("last_purchase_ts"),
        "purchase_id",
    ).orderBy(F.asc_nulls_first("event_id"))


QUERIES["ext_asof_join_salted"] = ext_asof_join_salted
ORACLES["ext_asof_join_salted"] = ORACLES["ext_asof_join"]
