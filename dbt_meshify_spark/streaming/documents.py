"""Streaming document curation (N6 x N2): per-micro-batch monitors over an
unbounded document feed.

Every monitor here is a batch plan over ONE micro-batch — a near-dup probe
against a PERSISTED index, a filter, a scorer, a sketch or a candidate
top-k — run by the single drain in ``streaming/sinks.py``: batch-keyed
overwrite commits, read back as the union of committed batches, and a typed
empty result from the same plan when no batch was ever committed. A monitor
only chooses its per-batch plan, its sink directory name, and what it does
with the committed rows (re-merge sketch cells, re-rank candidates, or
return them as-is).

The stored-index probe is the deployment shape of
`operators/dedup.py::minhash_index` + `incremental_neardup_pairs`: the
standing corpus is indexed once and every micro-batch computes only its OWN
signatures against the stored bands, so per-batch cost is O(batch +
matches) however large the corpus grows. Drained with availableNow over a
static directory, every monitor's emitted relation equals its batch
operator's — which is how the DuckDB oracle gates a streaming surface it
cannot execute (same discipline as streaming/events.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dbt_meshify_spark.streaming.sinks import drain

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based document stream with the testdata documents schema.

    Same single-file glob workaround as ``events.read_events_stream``: the
    FileStreamSource wants a directory, a glob keeps basePath at the parent.
    """
    from dbt_meshify_spark.session import prepare

    prepare(spark)
    if path.endswith(".parquet"):
        import os

        d, base = os.path.split(path)
        glob_path = f"{d}/{os.path.splitext(base)[0]}.*"
    else:
        glob_path = path
    reader = spark.readStream.schema(DOC_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(glob_path)


def stream_neardup_against_index(
    stream_docs: DataFrame,
    index_bands: DataFrame,
    index_sigs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_size: int = 3,
    hash_fn: str = "md5",
    min_jaccard_est: float = 0.5,
) -> DataFrame:
    """Run the incremental near-dup probe as a streaming job: every
    micro-batch flows through ``incremental_neardup_pairs`` against the
    stored index and appends its hits (``new_id, dup_of, jaccard_est``) to
    ``out_dir/hits``; returns the drained result frame.

    foreachBatch is the right operator here — the probe is a multi-join
    batch plan (signature build + band equi-join + estimate), which
    Structured Streaming cannot express as a continuous stateful operator,
    but CAN run exactly per micro-batch with transactional sinks.
    """
    from dbt_meshify_spark.operators.dedup import incremental_neardup_pairs

    def probe(batch_df: DataFrame) -> DataFrame:
        return incremental_neardup_pairs(
            batch_df,
            index_bands,
            index_sigs,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_size=shingle_size,
            hash_fn=hash_fn,
            min_jaccard_est=min_jaccard_est,
        )

    return drain(stream_docs, out_dir, "hits", probe)


def stream_gopher_filter(
    stream_docs: DataFrame,
    out_dir: str,
    min_words: int = 50,
) -> DataFrame:
    """Streaming rule-based curation: apply the Gopher document rules
    (operators/heuristics.py) to an unbounded document feed and keep only
    survivors.

    Every rule is a stateless scalar projection, so this is the cheapest
    possible streaming operator — no watermark, no state store, the filter
    runs inside the scan of each micro-batch. Drained availableNow over a
    static directory the emitted relation equals the batch operator's,
    which is how the DuckDB oracle gates it (same discipline as the
    near-dup probe above).
    """
    from pyspark.sql import functions as F

    from dbt_meshify_spark.operators.heuristics import gopher_rules

    def keep(batch_df: DataFrame) -> DataFrame:
        return (
            gopher_rules(batch_df, min_words=min_words)
            .filter(F.col("gopher_keep"))
            .select(
                "doc_id",
                "n_words",
                "mean_word_len",
                "stop_hits",
            )
        )

    return drain(stream_docs, out_dir, "rows", keep)


def stream_quality_psi(
    stream_docs: DataFrame,
    baseline_scored: DataFrame,
    out_dir: str,
    score_col: str = "quality",
    n_buckets: int = 10,
    score_fn=None,
) -> DataFrame:
    """Streaming drift monitor: score every arriving micro-batch, bucket it
    against the STORED baseline's edges, and accumulate additive bucket
    counts — PSI is computed over the running totals, never by re-reading
    scores (operators/snapshots.py::psi_from_counts is the mergeable core).

    ``score_fn`` maps a raw micro-batch frame to one carrying ``score_col``
    (default: ``operators.text.quality_score``, which emits ``quality`` —
    pass both parameters together for any other score). A baseline with no
    non-NULL scores is a clear error: there are no edges to bucket
    against (same posture as ``pca_project`` on an empty basis).

    Per-batch cost is one projection + a ``n_buckets``-row aggregate; the
    committed partials are (bucket, n) rows, so the monitor's state on disk
    grows with batches x n_buckets, not with documents. Drained
    availableNow the emitted relation equals ``score_psi(baseline, feed)``
    exactly (bucket counts are additive), which is how the DuckDB oracle
    gates this streaming surface.
    """
    from pyspark.sql import functions as F

    from dbt_meshify_spark.operators.snapshots import (
        psi_from_counts,
        score_buckets,
    )

    if score_fn is None:
        from dbt_meshify_spark.operators.text import quality_score

        score_fn = quality_score

    spark = stream_docs.sparkSession
    edges = baseline_scored.filter(F.col(score_col).isNotNull()).agg(
        F.min(score_col).cast("double").alias("lo"),
        F.max(score_col).cast("double").alias("hi"),
    ).first()
    if edges["lo"] is None or edges["hi"] is None:
        raise ValueError(
            "stream_quality_psi: baseline has no non-null scores — no edges"
        )
    lo, hi = float(edges["lo"]), float(edges["hi"])

    def count_batch(batch_df: DataFrame) -> DataFrame:
        return score_buckets(score_fn(batch_df), score_col, lo, hi, n_buckets, "n")

    partials = drain(stream_docs, out_dir, "partials", count_batch)
    new_cnts = partials.groupBy("bucket").agg(F.sum("n").alias("n_new"))
    base_cnts = score_buckets(
        baseline_scored, score_col, lo, hi, n_buckets, "n_old"
    )
    spine = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    cnts = (
        spine.join(base_cnts, "bucket", "left")
        .join(new_cnts, "bucket", "left")
        .fillna(0, ["n_old", "n_new"])
    )
    return psi_from_counts(cnts, n_buckets=n_buckets)


def stream_decontaminate(
    stream_docs: DataFrame,
    eval_df: DataFrame,
    out_dir: str,
    n: int = 3,
    min_overlap: float = 0.2,
) -> DataFrame:
    """Streaming benchmark decontamination: score every arriving
    micro-batch's n-gram overlap against the (static, broadcast) eval-set
    gram set and keep the per-doc verdict rows — the deployment shape of
    ``operators/decontam.py::ngram_overlap`` for a continuously-ingested
    corpus.

    Per-batch cost is the batch's own tokenize + a broadcast semi-join of
    its gram hashes against the bounded eval gram set; no state store, no
    watermark (each document's verdict depends only on itself and the
    static eval set). The eval grams re-broadcast per micro-batch from the
    static frame — refreshable out-of-band like the near-dup index above.
    Drained availableNow the emitted relation equals the batch operator's,
    which is how the shared DuckDB oracle gates it.
    """
    from dbt_meshify_spark.operators.decontam import ngram_overlap

    def score(batch_df: DataFrame) -> DataFrame:
        return ngram_overlap(batch_df, eval_df, n=n, min_overlap=min_overlap)

    return drain(stream_docs, out_dir, "verdicts", score)


def stream_self_repetition(
    stream_docs: DataFrame,
    out_dir: str,
    passage_tokens: int = 3,
) -> DataFrame:
    """Streaming within-document repetition removal: each micro-batch runs
    the intra-doc span cut (``operators/dedup.py::remove_self_repetition``)
    — a PER-DOCUMENT verdict, so batching cannot change any result and the
    drained relation equals the batch operator exactly (the shared-oracle
    property every stateless streaming twin here relies on). Per-batch
    cost is the batch's own tokenize + its (doc, gram-hash) window; no
    cross-batch state.
    """
    from dbt_meshify_spark.operators.dedup import remove_self_repetition

    def cut(batch_df: DataFrame) -> DataFrame:
        return remove_self_repetition(batch_df, passage_tokens=passage_tokens)

    return drain(stream_docs, out_dir, "cleaned", cut)


def stream_gram_novelty(
    stream_docs: DataFrame,
    reference: DataFrame,
    out_dir: str,
    n: int = 3,
) -> DataFrame:
    """Streaming novelty scoring: every arriving micro-batch scores its
    per-doc n-gram novelty against the standing reference corpus
    (``operators/snapshots.py::gram_novelty``) — the continuous-curation
    gate "does this crawl refresh add anything". Per-batch cost is the
    batch's own tokenize + one gram-keyed join against the reference gram
    set (in deployment a PERSISTED distinct-gram table, bucketed by gram so
    the probe is exchange-free on the stored side — the same stored-index
    posture as the streaming near-dup probe). Stateless: a document's
    novelty depends only on itself and the reference, so batching cannot
    change results and the drained relation equals the batch operator's —
    which is how the shared DuckDB oracle gates it.
    """
    from dbt_meshify_spark.operators.snapshots import gram_novelty

    def score(batch_df: DataFrame) -> DataFrame:
        return gram_novelty(batch_df, reference, n=n)

    return drain(stream_docs, out_dir, "novelty", score)


def stream_conversation_filter(
    stream_docs: DataFrame,
    out_dir: str,
    json_col: str = "conversation",
) -> DataFrame:
    """Streaming SFT-data gate: apply the conversation validity contract
    (operators/text.py::conversation_stats — turn count, role
    alternation, empty-turn defects) to an unbounded chat-record feed and
    keep only valid records.

    Stateless scalar projection per micro-batch — no watermark, no state
    store; per-batch cost is the batch's own parse. Drained availableNow
    over a static directory the emitted relation equals the batch
    operator's filtered output, which is how the DuckDB oracle gates it
    (same discipline as stream_gopher_filter).
    """
    from pyspark.sql import functions as F

    from dbt_meshify_spark.operators.text import conversation_stats

    def keep(batch_df: DataFrame) -> DataFrame:
        return (
            conversation_stats(batch_df, json_col=json_col)
            .filter(F.col("is_valid"))
            .select("doc_id", "n_turns", "total_chars")
        )

    return drain(stream_docs, out_dir, "rows", keep)


def stream_cms_heavy_hitters(
    stream_docs: DataFrame,
    corpus_df: DataFrame,
    out_dir: str,
    text_col: str = "text",
    threshold_frac: float = 0.005,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Streaming token-frequency monitor on count-min state: every arriving
    micro-batch reduces to its OWN sketch cells (<= depth*width rows
    committed per batch — operators/sketches.py::cms_sketch) and the merged
    sketch is their cell-wise sum, the mergeability
    test_cms_sketch_merges_across_shards proves. State on disk grows with
    batches x depth*width, never with tokens — the fixed-memory property
    that lets a 100 TB ingest keep a live frequency profile.

    Drained availableNow the merged sketch is value-equal to the batch
    build over the same corpus (integer cell sums are order-insensitive),
    so the final report shares ext_cms_heavy_hitters' DuckDB oracle.
    ``corpus_df`` is the batch view of the same data, used only for the
    exact-count audit columns.
    """
    from pyspark.sql import functions as F

    from dbt_meshify_spark.operators.dedup import tokens_col
    from dbt_meshify_spark.operators.sketches import (
        cms_sketch,
        heavy_hitters_from_cells,
    )

    def build(batch_df: DataFrame) -> DataFrame:
        toks = batch_df.select(
            F.explode(tokens_col(F.col(text_col))).alias("token")
        )
        return cms_sketch(toks, "token", depth, width)

    # the oracle equality needs each batch's cells summed exactly once —
    # the drain's batch-keyed overwrite makes a replayed batch land on its
    # own directory instead of double-counting
    cells = (
        drain(stream_docs, out_dir, "cells", build)
        .groupBy("r", "b")
        .agg(F.sum("c").alias("c"))
        .collect()
    )
    truth = corpus_df.select(
        F.explode(tokens_col(F.col(text_col))).alias("token")
    )
    return heavy_hitters_from_cells(
        cells, truth, "token", threshold_frac, depth, width
    )


def stream_weighted_sample(
    stream_docs: DataFrame,
    out_dir: str,
    k: int,
    weight_col: str,
    key_cols: list[str],
    seed: str = "es0",
) -> DataFrame:
    """Live weighted sampling without replacement over an ingest: every
    micro-batch keeps only its own Efraimidis-Spirakis top-k candidates
    (<= k rows committed per batch, batch-keyed overwrite — idempotent
    under foreachBatch replay), and the final sample re-ranks the union.

    Exactness, not approximation: the ES key u^(1/w) is row-INTRINSIC
    (deterministic md5 uniform of the row key), so the global top-k is
    always contained in the union of per-batch top-ks — drained
    availableNow the result row set equals
    ``sampling.weighted_sample_k`` over the same corpus exactly, which is
    how it shares that oracle. State grows with batches x k rows, never
    with documents — the live "which docs would tonight's mixture pick"
    monitor at fixed memory.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dbt_meshify_spark.operators.sampling import _md5_uniform

    u = _md5_uniform(key_cols, seed)

    def pick(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.filter(F.col(weight_col) > 0)
            .withColumn(
                "es_key", F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
            )
            .orderBy(F.col("es_key").desc(), *[F.col(c) for c in key_cols])
            .limit(k)
        )

    cands = drain(stream_docs, out_dir, "cands", pick)
    topk = cands.orderBy(
        F.col("es_key").desc(), *[F.col(c) for c in key_cols]
    ).limit(k)
    rank_w = Window.orderBy(F.col("es_key").desc(), *[F.col(c) for c in key_cols])
    return topk.withColumn("draw_rank", F.row_number().over(rank_w))


def stream_classifier_filter(
    stream_docs: DataFrame,
    weights: DataFrame,
    out_dir: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Streaming filter-model inference: score each arriving micro-batch
    against a STANDING trained weight table
    (operators/classifier.py::classify_documents — the stored-model
    posture: train once, serve every batch, same as the near-dup index
    probe above). Verdicts are per-document, so the drained relation
    equals the batch scorer's and shares ext_classifier_score's DuckDB
    oracle. The per-doc aggregate runs batch-scoped inside foreachBatch —
    no watermark, no state store; per-batch cost is O(batch tokens).
    """
    from dbt_meshify_spark.operators.classifier import classify_documents

    # train ONCE: pin the bounded weight table before the stream starts —
    # an uncached lazy frame would re-execute the whole training job
    # (corpus tokenize + shuffle + top-k) inside EVERY foreachBatch call
    weights = weights.localCheckpoint()

    def score(batch_df: DataFrame) -> DataFrame:
        return classify_documents(batch_df, weights, threshold=threshold)

    return drain(stream_docs, out_dir, "scored", score)
