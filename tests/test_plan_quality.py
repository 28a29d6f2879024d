"""Physical-plan guardrails: the properties that make these plans survive a
100x scale-up, asserted against the actual executed plans so a refactor that
silently loses pushdown/broadcast/pruning fails CI."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_meshify_spark.queries import QUERIES
from tests.conftest import SF_ORACLE


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    """q03's filters must reach the parquet scan, not run post-scan."""
    plan = _physical(QUERIES["q03_filters"](spark, SF_ORACLE))
    pushed = plan.split("PushedFilters: [", 1)
    assert len(pushed) == 2, "no PushedFilters section in scan"
    head = pushed[1].split("]", 1)[0]
    assert "o_orderpriority" in head and "o_orderdate" in head


def test_projection_prunes_scan_columns(spark):
    """q01 projects 4 columns; the scan must not read the rest (ReadSchema)."""
    plan = _physical(QUERIES["q01_projection_cast"](spark, SF_ORACLE))
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "o_comment" not in read_schema and "o_clerk" not in read_schema
    assert "o_orderkey" in read_schema and "o_totalprice" in read_schema


def test_dim_join_broadcasts(spark):
    """q04 joins customer to the nation dim: must be a broadcast join, not a
    shuffle (sort-merge) join."""
    plan = _physical(QUERIES["q04_join_agg"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan


def test_dedup_is_projection_only(spark):
    """ext_fingerprint is a pure projection: no Exchange may appear before
    the (ordering) sort the query adds for determinism."""
    plan = _physical(QUERIES["ext_fingerprint"](spark, SF_ORACLE))
    body = plan.split("Sort", 1)[-1]
    assert "Exchange hashpartitioning" not in body


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    """The runner's partition_by layout must turn partition-column filters
    into pruned scans (PartitionFilters), not full reads — the 100 TB lever
    for time-partitioned marts."""
    from dbt_meshify_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    events.write.partitionBy("day").parquet(path)
    read = spark.read.parquet(path).filter(F.col("day") == "2024-01-02")
    plan = _physical(read)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "day" in pf
    # and the data filter list does NOT re-apply the partition predicate scan-wide
    assert read.count() == events.filter(F.col("day") == "2024-01-02").count()


def test_exists_decorrelates_to_semi_join(spark):
    """q28's EXISTS must become a semi join (one pass, no row duplication),
    not a per-row subquery."""
    plan = _physical(QUERIES["q28_exists_semijoin"](spark, SF_ORACLE))
    assert "LeftSemi" in plan
    assert "InSubqueryExec" not in plan


def test_correlated_scalar_decorrelates_to_one_aggregate(spark):
    """q29's correlated scalar aggregate must decorrelate: exactly one
    HashAggregate pair over lineitem feeding an outer join, never a
    re-executed per-order subquery."""
    plan = _physical(QUERIES["q29_correlated_scalar"](spark, SF_ORACLE))
    assert "LeftOuter" in plan
    # partial + final aggregate = 2 HashAggregate mentions for the one agg
    assert plan.count("HashAggregate") == 2


def test_domain_filter_never_shuffles_corpus(spark):
    """ext_domain_quality_filter: the documents relation must reach its join
    via broadcast of the tiny domain stats frame — any Exchange of the
    corpus itself would shuffle 100 TB to apply a 20-row filter."""
    plan = _physical(QUERIES["ext_domain_quality_filter"](spark, SF_ORACLE))
    joins = plan.count("BroadcastHashJoin")
    assert joins >= 1
    # the corpus-side scan feeds the broadcast join with no hash repartition
    # in between: every Exchange in the plan is on the stats/rank side, which
    # only ever holds one row per domain
    corpus_side = plan.split("BroadcastHashJoin", 1)[1]
    scan_tail = corpus_side.split("Scan parquet", 1)[0]
    assert "Exchange hashpartitioning(doc_id" not in scan_tail


def test_full_outer_joins_aggregates_not_facts(spark):
    """q33 must aggregate to date grain BEFORE the full-outer join — the join
    input is ~2.4k rows per side at any SF, never fact cardinality. Guard:
    both join children contain a HashAggregate below the join node."""
    plan = _physical(QUERIES["q33_full_outer_join"](spark, SF_ORACLE))
    assert "FullOuter" in plan
    join_pos = plan.find("FullOuter")
    below = plan[join_pos:]
    assert below.count("HashAggregate") >= 2, (
        "full-outer join must consume pre-aggregated date-grain inputs"
    )


def test_posexplode_slices_before_generate(spark):
    """q34's Generate must consume a slice()d array — the full token stream
    must never enter the generator (3 rows/doc, not ~100)."""
    plan = _physical(QUERIES["q34_posexplode_tokens"](spark, SF_ORACLE))
    gen = plan.split("Generate", 1)
    assert len(gen) == 2, "no Generate node in plan"
    assert "slice(" in gen[1].split("\n", 1)[0]


def test_unpivot_aggregates_without_extra_exchange(spark):
    """q35: stack() reshape happens scan-side; exactly one hash-partitioned
    Exchange (the 4-group aggregate) before the presentation sort."""
    plan = _physical(QUERIES["q35_unpivot"](spark, SF_ORACLE))
    assert plan.count("Exchange hashpartitioning") <= 1


def test_bm25_filters_before_aggregation(spark):
    """ext_bm25_retrieval: the query-bag membership filter must sit below the
    first aggregate so the (doc, term) shuffle carries only query-term rows —
    never the full token stream."""
    plan = _physical(QUERIES["ext_bm25_retrieval"](spark, SF_ORACLE))
    first_agg = plan.find("HashAggregate")
    assert first_agg != -1, "no HashAggregate in plan"
    below = plan[first_agg:]
    assert "Filter" in below, "query-bag filter must run below the aggregate"
    assert ("INSET" in below) or (" IN (" in below), (
        "membership predicate missing from the pre-aggregate section"
    )


def test_fuzzy_join_blocks_on_multikey_exchange(spark):
    # q38's round-1 length-band collapsed every row into ONE shuffle key (a
    # disguised cross join, 70.8s at sf0.1). The chunk rewrite must shuffle
    # the candidate join on (i, chunk) — multiple discriminating keys — and
    # never plan a cartesian/broadcast-nested-loop over the corpus sides.
    df = QUERIES["q38_fuzzy_match"](spark, SF_ORACLE)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "Exchange hashpartitioning(i#" in plan or (
        "Exchange hashpartitioning" in plan and "chunk#" in plan
    ), plan[:2000]
    # the exchange must carry BOTH chunk-key columns, not a single key
    import re

    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert any("i#" in k and "chunk#" in k for k in keys), keys


def test_fuzzy_join_runtime_bounded_at_oracle_sf(spark):
    # end-to-end sanity: the candidate set stays bounded (bucket cap active)
    from dbt_meshify_spark.operators.fuzzy import fuzzy_join_capped_buckets
    from dbt_meshify_spark.sources import load_table

    sup = load_table(spark, SF_ORACLE, "supplier").select("s_suppkey", "s_name")
    cus = load_table(spark, SF_ORACLE, "customer").select("c_custkey", "c_name")
    capped = fuzzy_join_capped_buckets(sup, cus, "s_name", "c_name", k=4)
    # the TPC-H zero-padding pathology must be getting excised, and
    # reported — not silently exploding the join
    assert capped.count() >= 1


def test_funnel_stage_frames_broadcast(spark):
    # per-stage user frames are per-user aggregates: tiny at any SF relative
    # to events, so the chained stage joins must broadcast (threshold-driven,
    # no hints — a whale user table would demote to shuffle join safely)
    plan = _physical(QUERIES["ext_funnel_conversion"](spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cohort_retention_bounded_exchanges(spark):
    # first-seen agg + distinct-activity agg + final (cohort, offset) agg +
    # presentation sort; the user-level join broadcasts
    plan = _physical(QUERIES["ext_cohort_retention"](spark, SF_ORACLE))
    import re

    assert len(re.findall(r"Exchange (?:hash|range)partitioning", plan)) <= 5
    assert "CartesianProduct" not in plan


def test_incremental_probe_never_rereads_corpus(spark, tmp_path):
    """Probing a STORED near-dup index must touch only the batch and the two
    index tables — no corpus re-tokenization, no build-time window (the
    hot-bucket cap belongs to index BUILD, not to every probe)."""
    from dbt_meshify_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_index,
    )
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    sigs, bands = minhash_index(
        docs.filter(F.col("doc_id") % 5 != 0), num_hashes=16, bands=8,
        hash_fn="md5",
    )
    sigs.write.parquet(str(tmp_path / "sigs"))
    bands.write.parquet(str(tmp_path / "bands"))

    probe = incremental_neardup_pairs(
        docs.filter(F.col("doc_id") % 5 == 0),
        spark.read.parquet(str(tmp_path / "bands")),
        spark.read.parquet(str(tmp_path / "sigs")),
        num_hashes=16, bands=8, hash_fn="md5",
    )
    plan = _physical(probe)
    assert "Window" not in plan  # build-time cap must not run per probe
    # scans: the two stored index tables, plus at most the batch's read
    # (the batch signature frame sits behind a localCheckpoint, so its
    # documents scan may not appear in the probe plan at all); the corpus
    # text must never be re-read — every documents mention is the batch's
    assert 2 <= plan.count("FileScan parquet") <= 3
    assert plan.count("documents.parquet") <= 1
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_exchange_on_join_keys(spark):
    """ext_bucketed_join: the lineitem-orders sort-merge join must read the
    bucketed layout co-located — the only exchanges allowed are the tiny
    post-join aggregate/sort on o_orderpriority, never the order keys."""
    df = QUERIES["ext_bucketed_join"](spark, SF_ORACLE)
    plan = _physical(df)
    assert "SortMergeJoin" in plan
    ex_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert ex_lines, "expected the post-join aggregate exchange"
    for line in ex_lines:
        assert "o_orderpriority" in line, f"unexpected exchange: {line.strip()}"
        assert "orderkey" not in line, f"join-key exchange: {line.strip()}"


def test_token_budget_has_no_single_partition_window(spark):
    """ext_token_budget's running total must be the two-phase form: the
    corpus-sized window partitions on spark_partition_id after a RANGE
    exchange — never a SinglePartition exchange feeding an unpartitioned
    global window (the serialize-the-corpus anti-pattern). The only
    SinglePartition exchange allowed is the one under the #partitions-row
    offsets frame, which sits beneath a BroadcastExchange."""
    plan = _physical(QUERIES["ext_token_budget"](spark, SF_ORACLE))
    # the corpus-sized running-total window must PARTITION on the pinned
    # partition id (spark_partition_id materializes as the __pid column
    # under the localCheckpoint), i.e. windowspecdefinition(__pid, ...)
    assert "windowspecdefinition(__pid" in plan, "corpus window not pid-partitioned"
    # every SinglePartition exchange must be on the broadcast(offsets) branch:
    # the full-corpus branch ends at the budget filter, which must not sit
    # above a SinglePartition exchange in the same subtree. Cheap structural
    # check: the plan has at most one SinglePartition exchange and a
    # BroadcastExchange exists (the offsets join).
    assert plan.count("SinglePartition") <= 1
    assert "BroadcastExchange" in plan


def test_gopher_rules_is_scan_fused_projection(spark):
    """The Gopher rule set is pure scalar work: its plan must contain no
    exchange at all before the final presentation sort — rules fuse into the
    scan."""
    from dbt_meshify_spark.operators.heuristics import gopher_rules
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    plan = _physical(gopher_rules(docs))
    assert "Exchange" not in plan


def test_dsir_broadcasts_ratio_and_takeordered_resample(spark):
    """DSIR's scoring join must broadcast the bounded bucket-ratio table
    (never shuffle the per-doc tf frame against it), and the Gumbel top-k
    must plan as TakeOrderedAndProject, not a global sort."""
    plan = _physical(QUERIES["ext_dsir_sample"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_mixture_recipe_has_no_per_cell_serial_window(spark):
    """apply_mixture_recipe's per-cell running total must be the two-phase
    form: the corpus window partitions on (spark_partition_id, cells) after
    ONE range exchange — never an unpartitioned / per-cell-only window that
    serializes a whole cell through one task. The recipe and offsets frames
    ride BroadcastExchanges."""
    plan = _physical(QUERIES["ext_mixture_recipe"](spark, SF_ORACLE))
    assert "windowspecdefinition(__pid" in plan, "corpus window not pid-partitioned"
    assert plan.count("BroadcastExchange") >= 2  # offsets + recipe


def test_ivf_probe_never_rereads_or_retrains(spark, tmp_path):
    """Probing a STORED IVF index must touch only the query batch and the
    two index tables: no corpus scan, no training job in the probe plan,
    and the cell-partitioned layout must prune the cells scan to the probed
    cells (PartitionFilters via the equi-join's DPP or a post-scan join —
    at minimum the embeddings corpus never re-reads)."""
    from dbt_meshify_spark.operators.similarity import ivf_index, ivf_probe_index
    from dbt_meshify_spark.sources import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    centroids, cells = ivf_index(emb.filter(F.col("vec_id") % 5 != 0), nlist=8)
    centroids.write.parquet(str(tmp_path / "cent"))
    cells.write.partitionBy("cell").parquet(str(tmp_path / "cells"))

    probe = ivf_probe_index(
        load_table(spark, SF_ORACLE, "embeddings").filter(F.col("vec_id") < 5),
        spark.read.parquet(str(tmp_path / "cent")),
        spark.read.parquet(str(tmp_path / "cells")),
        k=3,
        nprobe=2,
    )
    plan = _physical(probe)
    # the stored cells scan must be PRUNED to the probed cells: the
    # cell-partitioned layout + broadcast join gives dynamic partition
    # pruning, so a 100 TB index reads ~nprobe/nlist of its files
    assert "dynamicpruningexpression(cell" in plan, "cells scan not DPP-pruned"
    # embeddings.parquet may appear at most twice: the query batch's own
    # read and its copy inside the DPP subquery — never a full corpus scan
    # (the corpus lives in the stored cells table, whose scan is pruned)
    assert plan.count("embeddings.parquet") <= 2
    assert "CartesianProduct" not in plan


def test_ivf_probe_q8_prunes_and_scans_int8(spark, tmp_path):
    """The quantized probe must keep the fp path's plan shape — stored
    cells scan DPP-pruned to the probed cells, no corpus re-read, no
    cartesian — AND the pruned scan must read the int8 'q' column, never
    a re-materialized double vector (the memory win would silently vanish
    if a dequantized copy were stored or scanned)."""
    from dbt_meshify_spark.operators.similarity import (
        ivf_index,
        ivf_probe_index_q8,
        ivf_quantize_cells,
    )
    from dbt_meshify_spark.sources import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    centroids, cells = ivf_index(emb.filter(F.col("vec_id") % 5 != 0), nlist=8)
    centroids.write.parquet(str(tmp_path / "cent"))
    ivf_quantize_cells(cells).write.partitionBy("cell").parquet(
        str(tmp_path / "cells")
    )

    probe = ivf_probe_index_q8(
        load_table(spark, SF_ORACLE, "embeddings").filter(F.col("vec_id") < 5),
        spark.read.parquet(str(tmp_path / "cent")),
        spark.read.parquet(str(tmp_path / "cells")),
        k=3,
        nprobe=2,
    )
    plan = _physical(probe)
    assert "dynamicpruningexpression(cell" in plan, "q8 cells scan not DPP-pruned"
    assert plan.count("embeddings.parquet") <= 2
    assert "CartesianProduct" not in plan
    # the stored-index scan reads the quantized column
    assert "q:array<tinyint>" in plan.replace(" ", "").replace("\n", ""), (
        "q8 index scan does not read array<tinyint>"
    )


def test_media_neardup_payloads_never_shuffle(spark):
    """The perceptual near-dup family's only shuffles are over (id, 8-byte
    fingerprint / band-key) rows — no Exchange may carry the binary
    payload or frame bytes."""
    import numpy as np

    from dbt_meshify_spark.operators.multimodal import (
        audio_neardup_pairs,
        encode_ppm,
        encode_wav,
        encode_y4m,
        image_neardup_pairs,
        video_neardup_pairs,
    )

    rng = np.random.RandomState(2)
    img = rng.randint(0, 256, size=(16, 16, 3)).astype("uint8")
    wav = encode_wav((8000 * np.sin(np.arange(4000) / 10.0)).astype("int16"))
    clip = encode_y4m([img, img])
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_ppm(img))),
            (2, bytearray(wav)),
            (3, bytearray(clip)),
        ],
        "media_id long, payload binary",
    )
    for fn in (image_neardup_pairs, audio_neardup_pairs, video_neardup_pairs):
        plan = _physical(fn(media))
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "payload" not in line and "frame#" not in line, (
                    f"{fn.__name__} shuffles media bytes: {line.strip()[:120]}"
                )


# Queries whose OPTIMIZED plan contains an unpartitioned (global) window,
# each with the reason the frame under it is bounded — the serialize-the-
# corpus anti-pattern is a global window over an UNBOUNDED frame. A new
# query that introduces one must either partition the window or earn an
# entry here with its bound.
GLOBAL_WINDOW_ALLOWLIST = {
    # two-phase running totals: the only global window is over the
    # #partitions-row offsets frame (guarded structurally above)
    "ext_dsir_sample": "offsets frame: one row per partition",
    "ext_token_budget": "offsets frame: one row per partition",
    "ext_training_data_build": "offsets frame: one row per partition",
    # bounded post-top-k rank assignment
    "ext_domain_quality_filter": "rank over top_k TakeOrdered survivors",
    "ext_skew_report": "rank over top-k heavy hitters per column",
    "ext_weighted_sample": "rank over k TakeOrdered sample rows",
    "ext_stream_weighted_sample": "rank over the <= batches x k drained "
    "candidate rows (same bounded post-top-k frame as the batch twin)",
    "ext_zipf_fit": "regression over top-500 term frequencies",
    # candidate-sized / documented small tiers
    "ext_funnel_windowed": "rates over the fixed stage-count rows",
    "ext_hybrid_retrieval": "rank over candidate-sized retrieval frames",
    "ext_quality_top_fraction": "exact percent_rank tier BY DESIGN; the "
    "scale tier is keep_top_fraction(exact=False)",
    "ext_vocab_encode": "term-id assignment over the min_count-filtered "
    "vocabulary (bounded Heaps-law growth; broadcast back)",
    "ext_source_concentration": "Gini rank over the key-cardinality "
    "(source) aggregate frame — thousands of rows at most",
    "ext_user_activity_audit": "suspect rank over the user-cardinality "
    "activity frame (one row per user)",
}


def _has_global_window(plan: str) -> bool:
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            inner = line.split("windowspecdefinition(", 1)[1]
            head = inner.split(",")[0]
            if (
                "ASC NULLS" in head
                or "DESC NULLS" in head
                or inner.startswith("specifiedwindowframe")
            ):
                return True
    return False


def test_global_windows_only_on_allowlisted_queries(spark):
    """Corpus-wide sweep: every query whose optimized plan contains an
    unpartitioned window must be on GLOBAL_WINDOW_ALLOWLIST (each entry
    documents why its frame is bounded), and every allowlist entry must
    still exist — stale entries hide regressions."""
    offenders = []
    for name in sorted(QUERIES):
        df = QUERIES[name](spark, SF_ORACLE)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        if _has_global_window(plan) and name not in GLOBAL_WINDOW_ALLOWLIST:
            offenders.append(name)
    assert not offenders, f"unallowlisted global windows: {offenders}"
    stale = sorted(set(GLOBAL_WINDOW_ALLOWLIST) - set(QUERIES))
    assert not stale, f"allowlist entries for unknown queries: {stale}"


def test_keyword_tag_broadcasts_taxonomy(spark):
    """keyword_tag's taxonomy join must be a BroadcastHashJoin (the corpus
    token explode never shuffles against the keyword table) and the
    (doc, topic) aggregate must be partial (map-side combined)."""
    plan = _physical(QUERIES["ext_keyword_tags"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan


def test_gram_novelty_shuffles_grams_not_text(spark):
    """gram_novelty's only wide dependencies key on the gram (join) and the
    doc id (final aggregate); no Exchange may carry the text column — the
    reference corpus reduces to distinct grams before any shuffle."""
    plan = _physical(QUERIES["ext_gram_novelty"](spark, SF_ORACLE))
    ex_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert ex_lines, "expected gram/id exchanges"
    for line in ex_lines:
        assert "text" not in line, f"text column in a shuffle: {line.strip()}"


def test_web_front_door_is_scan_fused(spark):
    """HTML extraction, URL canonicalization, script profile, code/markup
    profile, conversation and preference validation are all pure scalar
    projections: applied to the raw table (no presentation sort) their
    plans must contain no Exchange at all — the whole front door fuses
    into the parquet scan."""
    from dbt_meshify_spark.operators.text import (
        canonicalize_url,
        code_markup_profile,
        conversation_stats,
        extract_html_text,
        preference_pair_stats,
        script_profile,
    )
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    for fn, col in (
        (extract_html_text, "html"),
        (canonicalize_url, "url"),
        (script_profile, None),
        (code_markup_profile, None),
        (conversation_stats, "conversation"),
        (preference_pair_stats, "preference"),
    ):
        frame = docs if col is None else docs.withColumnRenamed("text", col)
        plan = _physical(fn(frame))
        assert "Exchange" not in plan, f"{fn.__name__} introduced a shuffle"


def test_semantic_decontamination_vectors_never_hash_shuffle(spark):
    """semantic_contamination: the eval side must broadcast, and no
    hash-partitioned Exchange may carry a vector column — the only keyed
    shuffle is (id, cos) scalars into the per-id max. (Vectors may ride
    the intentional round-robin spread of the streamed side.)"""
    plan = _physical(QUERIES["ext_semantic_decontaminate"](spark, SF_ORACLE))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "cv" not in line and "ev" not in line and "embedding" not in line, (
                f"vector column in a keyed shuffle: {line.strip()}"
            )


def test_bitext_mine_vectors_never_hash_shuffle(spark):
    """bitext_mine: margin/mutual logic shuffles only id-keyed candidate
    rows; embedding arrays must never enter a hash-partitioned Exchange
    (round-robin spread of the streamed cosine side is the one allowed
    vector movement)."""
    plan = _physical(QUERIES["ext_bitext_mine"](spark, SF_ORACLE))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "qv" not in line and "cv" not in line and "embedding" not in line, (
                f"vector column in a keyed shuffle: {line.strip()}"
            )


def test_graph_loops_shuffle_ids_only_no_nested_loops(spark):
    """kcore and label_propagation: every per-round join is hash-equi on
    node ids — no CartesianProduct / BroadcastNestedLoopJoin anywhere in
    the final-round plan, and the LPA argmax is an aggregate, not a
    per-node sort window (the struct-min rewrite; a sorted window over u
    would reintroduce a per-partition sort each round)."""
    for name in ("ext_kcore", "ext_label_propagation", "ext_core_numbers"):
        plan = _physical(QUERIES[name](spark, SF_ORACLE))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    lpa_plan = _physical(QUERIES["ext_label_propagation"](spark, SF_ORACLE))
    assert "row_number" not in lpa_plan.lower(), "LPA argmax fell back to a sort window"


def test_turn_echo_shuffles_grams_not_conversations(spark):
    """turn_echo_scores: after the gram explode, no Exchange may carry the
    conversation JSON or turn content — overlap joins move (id, pos, gram)
    rows only."""
    plan = _physical(QUERIES["ext_turn_echo"](spark, SF_ORACLE))
    ex_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert ex_lines, "expected gram/id exchanges"
    for line in ex_lines:
        assert "conversation" not in line and "content" not in line, (
            f"turn text in a shuffle: {line.strip()}"
        )


def test_substring_dedup_shuffles_hashes_never_text_or_grams(spark):
    """substring_run_pairs' wide dependencies key on the 8-byte gram hash
    and (pair, diagonal) ids: no Exchange may carry the text column or the
    gram string (anchors are (hash, id, pos) rows), and the pair join is
    an equi-join — no CartesianProduct / BroadcastNestedLoopJoin."""
    plan = _physical(QUERIES["ext_substring_dedup"](spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    ex_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert ex_lines, "expected hash/pair exchanges"
    for line in ex_lines:
        assert "text" not in line, f"text column in a shuffle: {line.strip()}"
        assert "__gram" not in line, f"gram string in a shuffle: {line.strip()}"


def test_pii_redact_sorts_below_the_expensive_projection(spark):
    """ext_pii_redact's global orderBy must sit BELOW the Luhn+regex
    projection: a Sort directly over the projection chain makes the
    range-partitioning sample re-execute the whole chain (measured 2x
    the query). In the printed plan the masking projection (contains the
    [CARD] literal) must appear ABOVE (before) the Sort node."""
    plan = _physical(QUERIES["ext_pii_redact"](spark, SF_ORACLE))
    assert "[CARD]" in plan and "Sort " in plan
    assert plan.index("[CARD]") < plan.index("Sort "), (
        "redaction projection is below the Sort — the range sample "
        "re-executes the Luhn chain"
    )


def test_kn_lm_family_scans_corpus_once_and_stays_jvm_side(spark):
    """The Kneser-Ney LM tiers pin their TYPE tables (model-sized under
    Zipf), so the corpus parquet is scanned ONCE in the final plan
    (measured 7/9 FileScans before pinning — one per count-table branch,
    a 100 TB re-read multiplier); scoring must stay pure codegen (no
    Python row UDFs) and the only nested-loop join is the 1-row totals
    broadcast."""
    # per-tier cap on 1-row scalar broadcasts: totals + one count-of-count
    # discount frame per modified-KN level (order 5 has four levels)
    for name, max_bnlj in (
        ("ext_kn_perplexity", 1),
        ("ext_kn4_perplexity", 1),
        ("ext_kn5_perplexity", 1),
        ("ext_mkn_perplexity", 3),
        ("ext_mkn5_perplexity", 5),
    ):
        plan = _physical(QUERIES[name](spark, SF_ORACLE))
        assert plan.count("Scan parquet") <= 1, f"{name} re-scans the corpus"
        assert "ExistingRDD" in plan, f"{name} lost its type-table pins"
        assert "BatchEvalPython" not in plan, f"{name} fell off codegen"
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= max_bnlj, (
            f"{name}: only 1-row scalar broadcasts may nest"
        )


def test_epoch_budget_plan_aggregates_corpus_once(spark):
    """epoch_budget_plan's water-fill rounds run on the PINNED
    group-cardinality frame: every round references its predecessor twice
    (totals + projection), so unpinned lineage doubles per round and
    ReuseExchange does NOT dedup the renamed subplans — measured 2^rounds
    FileScans before the checkpoint fix. The final plan must contain no
    parquet scan at all (the one corpus aggregate lives inside the
    checkpoint lineage and runs once)."""
    plan = _physical(QUERIES["ext_epoch_budget_plan"](spark, SF_ORACLE))
    assert plan.count("Scan parquet") == 0, "round lineage re-scans the corpus"
    assert "ExistingRDD" in plan


def test_unigram_em_round_runs_on_pinned_types(spark):
    """Each unigram-LM EM round must run over the PINNED word-type table
    (ExistingRDD, zero parquet scans): dropping the types localCheckpoint
    would silently replay the full corpus tokenize/explode once per EM
    round — the 100 TB re-read multiplier the pin exists to prevent. The
    round is one Arrow-batched segmentation UDF + one keyed aggregate."""
    from dbt_meshify_spark.operators.unigram import _em_usage, word_types
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    types = word_types(docs).localCheckpoint(eager=False)
    plan = _physical(_em_usage(types, {"a": 1.0}, 4))
    assert plan.count("Scan parquet") == 0, "EM round replays the corpus"
    assert "ExistingRDD" in plan, "EM round lost the type-table pin"
    assert plan.count("ArrowEvalPython") == 1, (
        "exactly one Arrow-batched segmentation pass per round"
    )
    assert "CartesianProduct" not in plan


def test_cms_probe_is_broadcast_only_no_sort_merge(spark):
    """ext_cms_heavy_hitters: the 4 per-row sketch slices are
    construction-bounded (<= width rows each) — every probe join must be a
    BroadcastHashJoin; a SortMergeJoin would shuffle the probe side once
    per hash function."""
    plan = _physical(QUERIES["ext_cms_heavy_hitters"](spark, SF_ORACLE))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_bloom_membership_joins_broadcast_and_text_never_shuffles(spark):
    """ext_bloom_decontaminate: the materialized position set (<= 8192
    rows, collected once — NOT re-derived per hash function) and the eval
    gram set must broadcast (3 membership joins + 1 exact-audit join), no
    Exchange may carry the document text, and at most ONE exchange may
    carry gram strings (the bounded eval-side distinct for the exact
    audit) — the train side shuffles per-doc scalars only."""
    plan = _physical(QUERIES["ext_bloom_decontaminate"](spark, SF_ORACLE))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    ex_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert ex_lines, "expected the per-doc aggregation exchange"
    for line in ex_lines:
        assert "text" not in line, f"text in a shuffle: {line.strip()}"
    gram_ex = [l for l in ex_lines if "gram" in l]
    assert len(gram_ex) <= 1, f"gram pipelines re-executed: {gram_ex}"


def test_zorder_stats_report_is_two_scans_no_window(spark):
    """ext_zorder_layout: the static-grid file assignment must be a pure
    projection — one stats pass (1-row broadcast) + one 16-group aggregate;
    no Window (a global NTILE would single-partition the corpus) and no
    SortMergeJoin."""
    plan = _physical(QUERIES["ext_zorder_layout"](spark, SF_ORACLE))
    assert "Window" not in plan, "global window in the z-order layout path"
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") <= 2


def test_kmv_windows_partition_on_keys_never_globally(spark):
    """ext_kmv_distinct: both row_number windows (the local per-partition
    prune and the per-key final) must partition on real keys — a
    SinglePartition exchange feeding an unpartitioned window would
    serialize the distinct-hash stream through one task."""
    plan = _physical(QUERIES["ext_kmv_distinct"](spark, SF_ORACLE))
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan


def test_bounded_contribution_cap_is_skew_safe(spark):
    """ext_bounded_contribution (r11 rebase): the contribution cap must run
    through the combiner two-pass topk — a LOCAL window salted with
    spark_partition_id prunes each input partition to <= cap rows per
    (user, group) BEFORE the global keyed window, so a bot-grade hot pair
    ships at most cap·P rows instead of funneling one task (the operator
    exists to cap bots; it must survive one). Dropped counts come from a
    partial-aggregated total, not a third corpus window. No
    SinglePartition exchange anywhere."""
    plan = _physical(QUERIES["ext_bounded_contribution"](spark, SF_ORACLE))
    assert "_skew_pid" in plan, "local pid-salted prune window missing"
    assert plan.count("Window ") == 2, "expected local + global cap windows"
    assert "Exchange SinglePartition" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_quantile_sketch_windows_stay_keyed_and_targets_broadcast(spark):
    """ext_quantile_sketch: the cumulative walk and the rank-select audit
    both window on the key (a SinglePartition exchange would serialize the
    corpus through one task), and the (key, q, r) target frame reaches the
    cells/audit sides as a broadcast, never a shuffled join."""
    plan = _physical(QUERIES["ext_quantile_sketch"](spark, SF_ORACLE))
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoop" in plan


def test_l_diversity_single_scan_keyed_aggregates(spark):
    """ext_l_diversity: one corpus scan feeds the (QI, sensitive) count
    table; the head-sum window partitions on the QI key (bounded
    partitions = distinct sensitive values per group), never globally."""
    plan = _physical(QUERIES["ext_l_diversity"](spark, SF_ORACLE))
    assert plan.count("Scan parquet") == 1, "l-diversity re-read the corpus"
    assert "Exchange SinglePartition" not in plan


def test_dp_release_single_cap_window_and_broadcast_noise(spark):
    """ext_dp_release: the ONLY corpus-sized operations are the skew-safe
    cap's two topk windows (local pid-salted prune + global — the r11
    bounded-contribution rebase, executed once, not per consumer); both
    noise tables must arrive as broadcasts, never shuffled joins; no
    SinglePartition exchange."""
    plan = _physical(QUERIES["ext_dp_release"](spark, SF_ORACLE))
    assert plan.count("Window ") == 2, "cap windows re-executed"
    assert "_skew_pid" in plan, "local pid-salted prune window missing"
    assert "Exchange SinglePartition" not in plan
    assert plan.count("BroadcastNestedLoopJoin") + plan.count(
        "BroadcastHashJoin"
    ) >= 2, "noise-table joins not broadcast"


def test_weighted_quantile_windows_stay_keyed(spark):
    """ext_weighted_quantile: the cumulative cell walk and the crossing
    audit both partition on the key; the (q, r) targets broadcast."""
    plan = _physical(QUERIES["ext_weighted_quantile"](spark, SF_ORACLE))
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoop" in plan


def test_classifier_score_single_scans_broadcast_weights(spark):
    """ext_classifier_score: the corpus is scanned once for training and
    once for scoring (never per-term or per-batch); the bounded weight
    table reaches the tf join as a broadcast at this vocab size; no
    SinglePartition exchange (the vocab cap compiles to
    TakeOrderedAndProject, not a global sort)."""
    plan = _physical(QUERIES["ext_classifier_score"](spark, SF_ORACLE))
    assert plan.count("Scan parquet") <= 2, "corpus re-read"
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan, "weights join not broadcast"
    assert "TakeOrderedAndProject" in plan


def test_sessionize_salted_windows_are_salted_never_user_only(spark):
    """ext_sessionize_salted: every EVENT-sized window must partition by
    (user_id, __b) — a user-only window ordered by event time is the
    un-splittable hot-key task the operator exists to remove (AQE cannot
    split a skewed WINDOW partition). The only user-only window allowed is
    the segment offset chain, which orders by __b over the tiny per-bucket
    frame, never by ts. The windowed event frame is persisted (both the
    segment aggregate and the final join consume it — unpinned it would
    compute twice), and at most TWO distinct exchanges carry the salted
    key: the window's own shuffle plus the segs branch's partial-agged
    (segment-sized rows only) aggregate exchange."""
    import re

    plan = _physical(QUERIES["ext_sessionize_salted"](spark, SF_ORACLE))
    # no window spec partitioned by user alone ordering by event time
    assert not re.search(r"windowspecdefinition\(user_id#\d+L?, ts#", plan), (
        "event-sized window partitioned by user only — hot-key exposure"
    )
    # the salted event window exists
    assert re.search(
        r"windowspecdefinition\(user_id#\d+L?, __b#\d+L?, ts#", plan
    ), "salted (user, bucket) window spec missing"
    # the shared windowed frame is pinned (one window compute, not two)
    assert "InMemoryTableScan" in plan, "flagged frame not persisted"
    # distinct salted-key exchanges: the window's + at most the segs
    # partial-agg's (a third would mean the event side re-shuffles raw)
    ids = set(
        re.findall(
            r"Exchange hashpartitioning\(user_id#\d+L?, __b#\d+L?,"
            r".*?\[plan_id=(\d+)\]",
            plan,
        )
    )
    assert 1 <= len(ids) <= 2, f"unexpected salted exchange count: {ids}"


def test_asof_join_salted_windows_are_salted_never_key_only(spark):
    """ext_asof_join_salted: the carry-forward windows must partition by
    (user_id, __b) — a key-only window ordered by the merged timestamp is
    the naive hot-key funnel. The only key-only window allowed is the
    segment seed chain, which orders by __b over the per-bucket frame."""
    import re

    plan = _physical(QUERIES["ext_asof_join_salted"](spark, SF_ORACLE))
    assert not re.search(
        r"windowspecdefinition\(user_id#\d+L?, _asof_ts#", plan
    ), "carry window partitioned by key only — hot-key exposure"
    assert re.search(
        r"windowspecdefinition\(user_id#\d+L?, __b#\d+L?, _asof_ts#", plan
    ), "salted (key, bucket) carry window missing"
    assert "InMemoryTableScan" in plan, "filled frame not persisted"


def test_exact_dedup_is_partial_aggregate_not_window(spark):
    """exact_dedup (round-11 rebase): keep-first must compile to a
    partial+final min_by aggregate — map-side combine ships ONE candidate
    row per (key, input partition) across the shuffle, so a hot duplicate
    key (30% of a crawl being one boilerplate page) cannot funnel through
    a single un-splittable window task."""
    plan = _physical(QUERIES["ext_dedup_exact"](spark, SF_ORACLE))
    assert "Window" not in plan, "dedup regressed to the window form"
    # partial + final = two HashAggregate/ObjectHashAggregate mentions
    aggs = plan.count("HashAggregate") + plan.count("SortAggregate")
    assert aggs >= 2, "no partial aggregation in the dedup plan"


def test_video_neardup_decode_chain_is_pinned_once(spark):
    """ext_video_neardup (round-12 verdict task 2): the synth/decode/dHash
    Python chain must run exactly once behind the frame-print pin — the
    round-10 defect was 8 un-pinned consumers re-executing it (24
    MapInPandas nodes in the final plan). With the localCheckpoint pin the
    final physical plan contains ZERO MapInPandas nodes and zero parquet
    scans: every branch (df-cap count, per-video totals, both pair-join
    sides) reads the pinned (video, frame-hash) ExistingRDD."""
    plan = _physical(QUERIES["ext_video_neardup"](spark, SF_ORACLE))
    assert plan.count("MapInPandas") == 0, (
        "decode chain leaked past the frame-print pin (r10 regression)"
    )
    assert plan.count("Scan parquet") == 0, "a branch re-reads the corpus"
    assert "ExistingRDD" in plan, "frame-print pin missing"
    assert "CartesianProduct" not in plan


def test_new_sql_surface_queries_plan_shapes(spark):
    """q40/q41/q42 (round 12): the three shared-verbatim-SQL additions must
    keep their intended physical shapes — the recursive CTE executes as the
    recursion operator (not an unrolled cross product), the LATERAL
    correlated LIMIT decorrelates into a keyed rank window (never a
    nested-loop per-row subquery), and NOT IN plans the null-aware LeftAnti
    join. None may contain a cartesian product."""
    p40 = _physical(QUERIES["q40_recursive_hierarchy"](spark, SF_ORACLE))
    assert "UnionLoop" in p40 or "Recursi" in p40, "recursion operator lost"
    p41 = _physical(QUERIES["q41_lateral_topk"](spark, SF_ORACLE))
    assert "Window" in p41, "lateral LIMIT did not decorrelate to a rank window"
    assert "BroadcastNestedLoop" not in p41 and "CartesianProduct" not in p41
    p42 = _physical(QUERIES["q42_not_in_anti"](spark, SF_ORACLE))
    assert "LeftAnti" in p42, "NOT IN lost the anti-join plan"
    for p in (p40, p41, p42):
        assert "CartesianProduct" not in p


def test_multiset_and_filtered_agg_plan_shapes(spark):
    """q43/q44 (round 13): INTERSECT ALL / EXCEPT ALL must execute via the
    join-FREE ReplicateRows rewrite (dual-marker union -> per-key dual
    count -> Generate replicaterows) — a per-row bag-diff join would be the
    scale hazard — with both leg filters pushed to the parquet scans; the
    FILTER-clause aggregates must stay one partial-aggregatable hash
    pipeline (map-side partial_* FILTER before the single key exchange),
    never a join of per-condition subqueries."""
    p43 = _physical(QUERIES["q43_multiset_ops"](spark, SF_ORACLE))
    assert "replicaterows" in p43.lower(), "multiset rewrite lost"
    assert "Join" not in p43, "set-ALL ops should plan join-free"
    assert "EqualTo(l_returnflag,R)" in p43, "leg filter not pushed to scan"
    p44 = _physical(QUERIES["q44_filtered_agg"](spark, SF_ORACLE))
    assert "Join" not in p44, "FILTER aggregates must not join subqueries"
    assert "partial_count(1) FILTER" in p44, (
        "filtered count lost map-side partial aggregation"
    )
    p45 = _physical(QUERIES["q45_ordered_set_agg"](spark, SF_ORACLE))
    assert "Join" not in p45 and "Window" not in p45, (
        "WITHIN GROUP percentiles must stay one sort-based aggregate"
    )
    assert "partial_" in p45, "ordered-set aggregate lost partial phase"
    p46 = _physical(QUERIES["q46_group_by_all"](spark, SF_ORACLE))
    assert "Join" not in p46 and "Expand" not in p46, (
        "GROUP BY ALL must resolve to one plain hash aggregate"
    )
    assert "partial_" in p46, "inferred grouping lost partial aggregation"
    for p in (p43, p44, p45, p46):
        assert "CartesianProduct" not in p


def test_ngram_pair_family_counts_join_after_pair_aggregate(spark):
    """r13 shape (guarded r14 per the verdict): the n-gram pair family
    stages its (id, gram) inverted index ONCE (`_kept_gram_index`) and
    derives per-doc counts as a tiny aggregate joined onto the PAIR frame
    after the intersection — the final plan therefore has ZERO Generate
    (no per-branch re-explode), ZERO Window (no id-keyed count
    re-derivation over the full index), zero parquet scans (both
    self-join sides read the pin), and no Python nodes."""
    for name in ("ext_ngram_jaccard", "ext_ngram_containment"):
        plan = _physical(QUERIES[name](spark, SF_ORACLE))
        assert plan.count("Generate") == 0, f"{name}: index re-exploded per branch"
        assert "Window" not in plan, f"{name}: counts re-derived via Window"
        assert "ExistingRDD" in plan, f"{name}: gram-index pin missing"
        assert plan.count("Scan parquet") == 0, f"{name}: a branch re-reads the corpus"
        assert "BatchEvalPython" not in plan


def test_source_overlap_pins_gram_index_once(spark):
    """r14 shape: source_overlap stages its distinct (source, gram-hash)
    index ONCE behind a pin — it feeds THREE subtrees (per-source totals
    and both self-join sides), so unpinned the corpus
    tokenize+shingle+explode+distinct ran once per subtree. Final plan:
    ZERO Generate (the explode lives inside the pin lineage), zero
    parquet re-scans, pin scans present, pure codegen."""
    plan = _physical(QUERIES["ext_source_overlap"](spark, SF_ORACLE))
    assert plan.count("Generate") == 0, "gram index re-exploded per subtree"
    assert "ExistingRDD" in plan, "gram-index pin missing"
    assert plan.count("Scan parquet") == 0, "a subtree re-reads the corpus"
    assert "BatchEvalPython" not in plan


def test_connected_components_materializes_pair_pipeline_once(spark):
    """r13 shape: connected_components pins the candidate-pair frame
    BEFORE the direction union — unpinned, the union's two branches (and
    the star canonicalization) each re-executed the entire upstream
    pair-generation pipeline. Guard: an accumulator-ticking UDF in the
    pair lineage must fire exactly once per row across the whole
    clustering run."""
    from pyspark.sql import functions as F

    from dbt_meshify_spark.operators.dedup import connected_components

    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def _tick(x):
        acc.add(1)
        return x

    tick = _tick.asNondeterministic()
    base = spark.range(0, 6, 1, 2).select(tick(F.col("id")).alias("n"))
    pairs = base.select(
        F.col("n").alias("id_a"), (F.col("n") + 1).alias("id_b")
    )
    connected_components(pairs).count()
    assert acc.value == 6, (
        f"pair pipeline executed {acc.value / 6:.1f}x (pin before the "
        "direction union lost)"
    )


def test_lm_lower_tiers_pin_staging_and_scan_corpus_once(spark):
    """r13 shape: the JM bigram/trigram tiers pin `toks` and `tf` — every
    count table and the scoring path derive from the pins, so the final
    plan reads the corpus parquet ZERO times (the one tokenize lives
    inside the pin lineage) and stays pure codegen."""
    for name in ("ext_lm_perplexity", "ext_trigram_perplexity"):
        plan = _physical(QUERIES[name](spark, SF_ORACLE))
        assert plan.count("Scan parquet") == 0, f"{name}: staging pins lost"
        assert "ExistingRDD" in plan, f"{name}: staging pins lost"
        assert "BatchEvalPython" not in plan, f"{name} fell off codegen"


def test_lm_scoring_joins_run_on_model_table_not_corpus(spark):
    """r14 shape: NLL is a pure function of the gram, so every LM tier
    computes it on the MODEL-sized count/type table and attaches it to
    the corpus (doc, gram, tf) relation with ONE join. Guard: the
    projection that produces `nll` must not carry the doc id (a doc-keyed
    nll projection means the corpus is riding the scoring-join chain
    again — 9 corpus shuffles at order 5 once models outgrow broadcast)."""
    for name in (
        "ext_lm_perplexity",
        "ext_trigram_perplexity",
        "ext_kn_perplexity",
        "ext_kn4_perplexity",
        "ext_kn5_perplexity",
        "ext_mkn_perplexity",
        "ext_mkn5_perplexity",
    ):
        plan = _physical(QUERIES[name](spark, SF_ORACLE))
        nll_lines = [l for l in plan.splitlines() if " AS nll#" in l]
        assert nll_lines, f"{name}: nll projection not found in plan"
        assert all("doc_id" not in l for l in nll_lines), (
            f"{name}: nll computed on a doc-keyed (corpus-sized) frame"
        )


def test_winnow_overlap_counts_join_after_pair_aggregate(spark):
    """r14 shape: winnow_overlap_pairs stages the print index once and
    joins per-doc print counts onto the pair frame AFTER the intersection
    aggregate — no Generate, no Window, no parquet re-scan in the final
    plan (the fingerprint pipeline lives behind the pin)."""
    plan = _physical(QUERIES["ext_winnow_overlap"](spark, SF_ORACLE))
    assert plan.count("Generate") == 0, "fingerprints re-exploded per branch"
    assert "Window" not in plan, "print counts re-derived via Window"
    assert "ExistingRDD" in plan, "print-index pin missing"
    assert plan.count("Scan parquet") == 0, "a branch re-reads the corpus"


def test_stop_gram_caps_are_broadcast_anti_drop_joins(spark):
    """r14 shape (guide §2.3/§3.2): the n-gram and winnow stop-gram caps
    anti-join against the DROP list (grams/prints with df above the cap —
    a handful of boilerplate keys by Zipf, broadcastable at any scale)
    instead of shuffle- or broadcast-joining the near-vocabulary-sized
    KEEP list; and the gram index carries xxhash64 longs, never gram
    strings, so every gram-keyed exchange moves 8-byte keys. The caps sit
    inside the staging pins, so this guard inspects the unpinned lineage
    (_pin=False test hook)."""
    from dbt_meshify_spark.operators.dedup import (
        _kept_gram_index,
        winnow_overlap_pairs,
    )
    from dbt_meshify_spark.sources.registry import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    kept, _ = _kept_gram_index(docs, "doc_id", "text", 3, 10_000, _pin=False)
    plan = _physical(kept)
    assert "LeftAnti" in plan, "gram cap regressed to a keep-list join"
    assert "xxhash64" in plan, "gram index shuffles strings, not 8-byte keys"
    assert "SortMergeJoin" not in plan, "drop list not broadcast"

    plan = _physical(
        winnow_overlap_pairs(docs, max_print_df=10_000, _pin=False)
    )
    assert "LeftAnti" in plan, "print cap regressed to a keep-list join"
    assert "SortMergeJoin" not in plan, "print drop list not broadcast"


def test_embedding_neardup_lsh_scores_each_pair_once(spark):
    """r14 shape: the self-LSH near-dup tier (a) pins the banded signature
    frame once (both self-join sides read the pin — one corpus pass, one
    signature UDF crossing), (b) prunes the candidate frame to one
    orientation (query_id < neighbor_id) BEFORE the vector re-join, and
    (c) evaluates the Arrow cosine exactly ONCE (`_cos_pairs_udf` is
    marked non-deterministic so the threshold filter cannot drag a second
    evaluation below its Project). Regressing any of the three doubles
    Python-boundary work on every candidate pair."""
    import re

    plan = _physical(QUERIES["ext_embedding_neardup_lsh"](spark, SF_ORACLE))
    assert plan.count("ArrowEvalPython") == 1, (
        "cosine evaluated more than once (or the signature pass escaped "
        "the pin) — non-deterministic marking or the banded pin lost"
    )
    assert "ExistingRDD" in plan, "banded signature pin missing"
    assert re.search(r"query_id#\d+L? < neighbor_id#\d+", plan), (
        "orientation filter no longer prunes candidates before scoring"
    )


def test_bitext_mine_pins_knn_directions(spark):
    """r14 shape: bitext_mine pins the fwd/bwd kNN candidate frames (each
    is consumed by the candidate union AND its endpoint's kNN-mean
    aggregate) — the final plan reads the exact-scorer output from the
    pins and never re-runs the all-pairs cosine per consumer (16 parquet
    scans / 32 Windows in the unpinned form)."""
    plan = _physical(QUERIES["ext_bitext_mine"](spark, SF_ORACLE))
    assert plan.count("Scan parquet") == 0, (
        "a consumer re-executes the kNN scorer from the corpus"
    )
    assert "ExistingRDD" in plan, "kNN direction pins missing"


def test_substring_run_pairs_pins_anchor_index(spark):
    """r14 shape: substring_run_pairs pins the capped anchor index (df-cap
    aggregate + both self-join sides read the pin) — the final plan keeps
    only the run-merge window (per-(pair, diagonal) — tiny partitions) and
    never re-reads the corpus or re-explodes the shingles."""
    plan = _physical(QUERIES["ext_substring_dedup"](spark, SF_ORACLE))
    assert plan.count("Scan parquet") == 0, "anchor pipeline re-reads the corpus"
    assert plan.count("Generate") == 0, "shingles re-exploded per branch"
    assert "ExistingRDD" in plan, "anchor-index pin missing"


def test_dup_shingle_positions_pins_position_index(spark):
    """r14 shape: `_dup_shingle_positions` pins the (id, start_tok,
    gram-hash) position index — it feeds the min-docs dup aggregate AND
    the position probe joined back onto it, so unpinned the corpus
    tokenize + posexplode + hash ran once per consumer. Final plan for
    the spans query: ZERO parquet scans / ZERO Generate (one tokenize,
    inside the pin lineage)."""
    plan = _physical(QUERIES["ext_dup_spans"](spark, SF_ORACLE))
    assert plan.count("Scan parquet") == 0, "a consumer re-reads the corpus"
    assert plan.count("Generate") == 0, "shingles re-exploded per consumer"
    assert "ExistingRDD" in plan, "position-index pin missing"


def test_minhash_banded_index_pinned_for_both_join_sides(spark):
    """r14 shape: minhash_candidate_pairs pins the capped (id, band_idx,
    band_hash) band index — it feeds BOTH self-join sides, so unpinned the
    banding explode AND the bucket-cap window (a full shuffle+sort of the
    band relation) executed once per side. Final plan: ZERO Generate and
    ZERO Window (both live inside the pin lineage)."""
    plan = _physical(QUERIES["ext_minhash_neardup"](spark, SF_ORACLE))
    assert plan.count("Generate") == 0, "banding explode re-run per join side"
    assert plan.count("Window") == 0, "bucket-cap window re-run per join side"
    assert "ExistingRDD" in plan, "band-index pin missing"


def test_cms_heavy_hitters_pins_key_relation_across_jobs(spark):
    """r14 shape: cms_heavy_hitters pins the key relation — it feeds TWO
    jobs (the sketch-build collect at construction time and the exact-count
    audit at action time), so an expensive upstream derivation (the
    tokenize+explode the declared query passes in) executed once per job.
    Final (audit) plan: ZERO parquet scans / ZERO Generate."""
    plan = _physical(QUERIES["ext_cms_heavy_hitters"](spark, SF_ORACLE))
    assert plan.count("Scan parquet") == 0, "audit job re-reads the corpus"
    assert plan.count("Generate") == 0, "audit job re-runs the tokenize"
    assert "ExistingRDD" in plan, "key-relation pin missing"


def test_simhash_fingerprints_are_codegen_lane_packed_aggregates(spark):
    """r14 shape: SimHash fingerprints come from explode + lane-packed
    codegen SUM aggregates (22 packed lanes + 1 count), not 64 interpreted
    per-bit array-HOF aggregates (Spark HOF lambdas evaluate interpreted —
    the form measured ~5x its work content on the MinHash md5 tier)."""
    from dbt_meshify_spark.operators.dedup import _simhash64_by_id
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    plan = _physical(_simhash64_by_id(docs, "doc_id", "text"))
    assert plan.count("partial_sum") >= 20, "lane-packed vote SUMs missing"
    assert "aggregate(" not in plan, "interpreted HOF vote aggregates returned"
    assert "BatchEvalPython" not in plan


def test_dsir_weights_pin_tf_single_tokenize(spark):
    """r14 shape: dsir_log_weights pins the (doc, bucket) tf relation —
    its three consuming subtrees (histogram->totals, histogram->ratio,
    scoring join) read the pin, so the final plan has ZERO Generate (the
    corpus tokenize+explode lives inside the pin lineage) and the ratio
    table stays an explicit broadcast."""
    plan = _physical(QUERIES["ext_dsir_weights"](spark, SF_ORACLE))
    assert plan.count("Generate") == 0, "corpus explode re-derived per branch"
    assert "ExistingRDD" in plan, "tf pin missing"
    assert "BroadcastHashJoin" in plan, "ratio table lost its broadcast"


def test_curation_report_ranks_dedup_window_once(spark):
    """r14 shape: curation_report's dedup-rank window (text_norm-keyed
    Exchange+Sort+Window) is computed once behind an ids-only pin — both
    consumers (duplicate markers, rn=1 survivors) read the pinned
    (id, rn) frame, so the final plan contains ZERO Window nodes."""
    plan = _physical(QUERIES["ext_curation_report"](spark, SF_ORACLE))
    assert "Window" not in plan, "dedup-rank window re-derived per consumer"
    assert "ExistingRDD" in plan, "ids-only rank pin missing"


def test_pagerank_pin_policy_teleport_unpinned_redistribute_pinned(spark):
    """r14 pin policy: pagerank's teleport chain is LINEAR (each round's
    ranks has exactly one consumer), so the returned frame must NOT be
    truncated behind a per-round checkpoint — the round joins stay visible
    in the plan (pinned e/nodes/weighted remain the only RDD leaves). The
    redistribute tier reads each round's ranks twice (dangling-mass
    aggregate + contribution join), so its final frame MUST stay pinned —
    a bare RDD scan — or every consumer re-executes the previous round."""
    plan = _physical(QUERIES["ext_pagerank"](spark, SF_ORACLE))
    assert "Join" in plan, "teleport rounds truncated — per-round pin returned"
    assert plan.count("Scan ExistingRDD") >= 2, "e/nodes/weighted pins missing"
    dang = _physical(QUERIES["ext_pagerank_dangling"](spark, SF_ORACLE))
    assert "Join" not in dang, (
        "redistribute rounds unpinned — twice-consumed rank frames would "
        "re-execute the previous round per consumer"
    )


def test_codegen_cache_keeps_a_repeated_plan_compiled(spark):
    """Spark keeps compiled whole-stage and expression classes in an LRU
    keyed by the generated source (``spark.sql.codegen.cache.maxEntries``,
    default 100). One pass of a few queries generates more classes than
    that, so at the default a plan run again after them compiles its
    classes again. With the cache sized to the corpus (session.py), the
    repeat compiles nothing."""
    from tests.conftest import SF_SMOKE

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()

    def run(name: str) -> int:
        before = compiles.getCount()
        QUERIES[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        return compiles.getCount() - before

    first = run("ext_label_propagation")
    # ~130 classes of their own, more than Spark's default bound
    for name in ("ext_turn_echo", "ext_cluster_best_keep"):
        run(name)
    again = run("ext_label_propagation")
    # a fresh session compiles ~64 classes for it and a repeat none (at
    # Spark's default bound, all ~64 again); allow a few for an AQE re-plan
    assert again <= 5, f"repeated plan recompiled {again} classes (first run: {first})"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
