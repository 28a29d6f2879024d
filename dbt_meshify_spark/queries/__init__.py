"""Declared query corpus (SURVEY.md §2.7) + extension operators (§2.6).

Each query is a callable ``(spark, sf_dir) -> DataFrame`` built with the
DataFrame API (Catalyst plans the physical execution), paired — where the
semantics are SQL-expressible — with the equivalent ANSI SQL the DuckDB
oracle runs. Registries:

- ``QUERIES``: name -> callable
- ``ORACLES``: name -> SQL (subset of QUERIES keys; missing => rows-only check)
"""

from dbt_meshify_spark.queries.relational import (
    ORACLES as _REL_ORACLES,
    QUERIES as _REL_QUERIES,
)
from dbt_meshify_spark.queries.extensions import (
    ORACLES as _EXT_ORACLES,
    QUERIES as _EXT_QUERIES,
)

QUERIES = {**_REL_QUERIES, **_EXT_QUERIES}

# The driver verifies the FIRST 50 queries() entries in dict insertion order
# (CORRECTNESS_r01/r02 both cut off at 50 rows). Curate that window so the
# EXTERNAL gate always covers the newest machinery: 11 persistent relational
# family representatives (green in real CORRECTNESS files since rounds 1–2
# AND replayed in every local pytest run) + 39 slots per round for oracles
# that have NEVER had an external CORRECTNESS row, in alphabetical order
# recomputed fresh each round (the rotation ledger in COVERAGE.md §rotation
# tracks the remaining debt). Round 12: the fresh recompute starts at
# ext_ann_lsh_topk — eight oracles added after round 11's window was frozen
# (ext_ann_lsh_topk … ext_embedding_neardup_lsh) sort before the round-11
# block and slot in by name, and ext_asof_join_salted (the round-11
# verdict's task-7 early promotion) lands 2nd alphabetically with no queue
# jump needed; ext_hard_negatives_lsh (this round's oracle promotion) slots
# in at its own alphabetical spot, and the window then continues
# ext_gopher_rules → ext_quality_psi. Debt after this round: 70 of 220 (the eight
# shared-verbatim-SQL additions — q40/q41/q42 and the five governance
# fixtures q_g7/q_g8/q_g10/q_g12/q_v7 — landed after the rotation and
# join the backlog).
# Every window slot must be hash-checkable — rows-only tiers (e.g.
# ext_minhash_neardup, which errs `no_oracle` by design) go after 50.
_WINDOW_REL = [
    "q01_projection_cast",
    "q04_join_agg",
    "q05_conditional_agg",
    "q11_dedup_rank",
    "q12_sessionize",
    "q13_rollup",
    "q16_incremental_watermark",
    "q19_expression_test",
    "q28_exists_semijoin",
    "q32_set_ops",
    # ONE governance-plane representative (q_g4 covers the graph plane;
    # q_l1_dependency_detection — green externally r01-r10 and replayed
    # locally — gave up its slot in r11 to keep all 39 extension slots
    # for the never-verified backlog)
    "q_g4_boundary_access",
]
_WINDOW_EXT = [
    # r15 window: `scripts/rotate_window.py --oldest-green` (staleness
    # cycle, oldest green round first, ties alphabetical), led by one
    # promotion — ext_ngram_containment, whose gram hash changed in r14
    # (gram string -> xxhash64) after its only green row (r12); that
    # promotion takes the cycle's 39th slot. ext_ngram_jaccard, on the
    # same hash, comes up on its own (last green r02).
    "ext_ngram_containment",  # last green r12 (promoted)
    "ext_fingerprint",  # last green r02
    "ext_ngram_jaccard",  # last green r02
    "ext_remove_dup_passages",  # last green r02
    "ext_cosine_topk",  # last green r08
    "ext_decontaminate",  # last green r08
    "ext_dsir_weights",  # last green r08
    "ext_hashed_embedding_topk",  # last green r08
    "ext_bpe_train",  # last green r09
    "ext_dedup_clusters",  # last green r09
    "ext_epoch_budget_plan",  # last green r09
    "ext_kn_perplexity",  # last green r09
    "ext_stream_tumbling_daily",  # last green r09
    "ext_substring_dedup",  # last green r09
    "ext_token_budget",  # last green r09
    "q02_case_boolean",  # last green r09
    "q03_filters",  # last green r09
    "q09_topk",  # last green r09
    "q10_lag_lead",  # last green r09
    "ext_bounded_contribution",  # last green r10
    "ext_bpe_byte_train",  # last green r10
    "ext_classifier_score",  # last green r10
    "ext_dp_release",  # last green r10
    "ext_kmv_distinct",  # last green r10
    "ext_l_diversity",  # last green r10
    "ext_minhash_neardup_md5",  # last green r10
    "ext_mkn5_perplexity",  # last green r10
    "ext_quantile_sketch",  # last green r10
    "ext_stream_late_drops",  # last green r10
    "ext_tokenizer_fertility",  # last green r10
    "ext_unigram_encode",  # last green r10
    "ext_zorder_layout",  # last green r10
    "q06_multiway_join",  # last green r10
    "q07_distinct_unique",  # last green r10
    "q08_union_literal",  # last green r10
    "q14_date_spine",  # last green r10
    "q15_time_grain",  # last green r10
    "q17_accepted_values",  # last green r10
    "q17_not_null",  # last green r10
]
_missing = [n for n in (*_WINDOW_REL, *_WINDOW_EXT) if n not in QUERIES]
if _missing:
    # explicit (not a bare assert: that is stripped under -O, and a silent
    # `if n in QUERIES` filter would hide the typo'd name entirely)
    raise RuntimeError(
        f"driver-window names missing from QUERIES (typo?): {_missing}"
    )
_head = [*_WINDOW_REL, *_WINDOW_EXT]
if len(_head) != 50:
    raise RuntimeError(
        f"driver window must be exactly 50 slots, got {len(_head)}"
    )
if len(set(_head)) != 50:
    # a duplicated name would survive the length check but dedup to 49
    # curated slots in the dict rebuild below — insertion order would then
    # pull query 51 into the externally-hashed window silently
    _dups = sorted({n for n in _head if _head.count(n) > 1})
    raise RuntimeError(f"driver-window names duplicated: {_dups}")
QUERIES = {
    **{name: QUERIES[name] for name in _head},
    **{name: fn for name, fn in QUERIES.items() if name not in set(_head)},
}

# The events table has shipped as TIMESTAMP(NANOS) in some driver snapshots
# and TIMESTAMP(MICROS) in others. Spark truncates to µs either way (it has
# no ns type), but DuckDB would happily compare at ns — a session gap that is
# exactly 30 min at µs and >30 min at ns flips a sessionize boundary and
# hash-fails the comparison. Pin every events-reading oracle to µs by
# rewriting table references to a CTE that casts ts to TIMESTAMP (µs in
# DuckDB): a no-op on µs data, the same truncation Spark performs on ns
# data. (A shadowing CTE named `events` is a DuckDB circular reference, so
# the CTE gets its own name and `\bevents\b` references are rewritten —
# `n_events`-style identifiers are untouched by the word boundary.)
import re as _re

_EVENTS_US_CTE = (
    "events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"
)


def _ns_robust(sql: str) -> str:
    s = sql.lstrip()
    if not _re.search(r"\bevents\b", s):
        return sql
    s = _re.sub(r"\bevents\b", "events_us", s)
    if s[:14].upper() == "WITH RECURSIVE":
        return "WITH RECURSIVE " + _EVENTS_US_CTE + ", " + s[14:].lstrip()
    if s[:4].upper() == "WITH":
        return "WITH " + _EVENTS_US_CTE + ", " + s[4:].lstrip()
    return "WITH " + _EVENTS_US_CTE + "\n" + s


ORACLES = {
    name: _ns_robust(sql)
    for name, sql in {**_REL_ORACLES, **_EXT_ORACLES}.items()
}

__all__ = ["QUERIES", "ORACLES"]
