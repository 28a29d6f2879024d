"""Scaling probe: measure representative operators at 1x / 2x / 4x of the
sf0.1 documents corpus to validate the near-linear scaling SCALE.md claims.

Synthetic scale-up: copy k suffixes every token with _k (regexp, JVM-side),
so copies share NO shingles with each other — near-dup structure stays
per-copy (the honest throughput test; naive duplication would add
cross-copy near-dups and grow the pair space superlinearly instead).

Run ALONE (shared host: concurrent Spark sessions inflate times ~40%):
    python scripts/scaling_probe.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def scaled_corpus(docs, k: int):
    parts = [docs]
    n = docs.count()
    for i in range(1, k):
        parts.append(
            docs.select(
                (F.col("doc_id") + i * n).alias("doc_id"),
                F.regexp_replace("text", r"(\S+)", f"$1_{i}").alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def planted_community_graph(spark, communities: int, size: int = 50, half_deg: int = 5):
    """Deterministic planted-partition graph: ``communities`` circulant
    cliques of ``size`` nodes (each node linked to its ``half_deg`` next
    ring neighbors — degree 2*half_deg intra, triangle-rich) plus one
    bridge edge between consecutive communities. Scaling = more
    communities: edges grow linearly, per-community structure constant —
    the honest graph analog of the suffix-salted corpus copies."""
    nodes = spark.range(communities * size).select(F.col("id").cast("long"))
    offs = F.explode(F.array(*[F.lit(j) for j in range(1, half_deg + 1)]))
    intra = nodes.select("id", offs.alias("j")).select(
        F.col("id").alias("src"),
        (
            (F.col("id") - (F.col("id") % size))
            + ((F.col("id") % size) + F.col("j")) % size
        ).alias("dst"),
    )
    bridges = spark.range(communities).select(
        (F.col("id") * size).alias("src"),
        (((F.col("id") + 1) % communities) * size).alias("dst"),
    )
    return intra.unionByName(bridges).filter(F.col("src") != F.col("dst"))


def graph_family_probe(spark) -> None:
    """LPA / PageRank / degree-oriented triangles / k-core at 1x-4x on
    planted community graphs — the families whose per-round cost is joins
    and aggregates keyed on node ids, expected to scale linearly in edge
    count (VERDICT r5 ask #8)."""
    from dbt_meshify_spark.operators.graph_rank import (
        core_numbers,
        kcore,
        label_propagation,
        pagerank,
        triangle_counts,
    )

    # warmup pins each operator's codegen/Arrow cost outside the loop
    warm = planted_community_graph(spark, 20).localCheckpoint()
    pagerank(warm, iters=2).count()
    label_propagation(warm, iters=2).count()
    triangle_counts(warm, orient="degree").count()
    kcore(warm, k=3, iters=4).count()
    core_numbers(warm, k_max=4, iters_per_k=2).count()

    for k in (1, 2, 4):
        edges = planted_community_graph(spark, 200 * k).localCheckpoint()
        n_edges = edges.count()
        t0 = time.time()
        pagerank(edges, iters=3).write.format("noop").mode("overwrite").save()
        t_pr = time.time() - t0
        lpa_stats: dict = {}
        t0 = time.time()
        label_propagation(edges, iters=8, stats=lpa_stats).write.format(
            "noop"
        ).mode("overwrite").save()
        t_lpa = time.time() - t0
        t0 = time.time()
        n_tri = triangle_counts(edges, orient="degree").count()
        t_tri = time.time() - t0
        kc_stats: dict = {}
        t0 = time.time()
        n_core = kcore(edges, k=6, iters=8, stats=kc_stats).count()
        t_kc = time.time() - t0
        # full decomposition: levels 2..11 mostly fixpoint after one round
        # (the circulant communities are 10-regular), level 11 peels the
        # graph — per-level work is edge-proportional, rounds constant
        cn_stats: dict = {}
        t0 = time.time()
        n_cn = core_numbers(
            edges, k_max=11, iters_per_k=4, stats=cn_stats
        ).count()
        t_cn = time.time() - t0
        print(
            f"graph scale={k}x edges={n_edges}: pagerank3={t_pr:.2f}s "
            f"lpa={t_lpa:.2f}s (rounds {lpa_stats.get('rounds')}) "
            f"triangles={t_tri:.2f}s (nodes {n_tri}) "
            f"kcore6={t_kc:.2f}s (core {n_core}, rounds {kc_stats.get('rounds')}) "
            f"coren={t_cn:.2f}s (nodes {n_cn}, rounds {cn_stats.get('rounds')}, "
            f"levels {cn_stats.get('levels')})",
            flush=True,
        )


def lm_family_probe(spark, base) -> None:
    """Jelinek-Mercer trigram / KN-5 / MKN-5 at 1x-8x of the documents
    corpus (VERDICT r8 ask #5): the LM tiers' cost is count-TABLE work
    (distinct n-gram types), not token volume — on the suffix-salted
    copies the type count grows exactly linearly (each copy's tokens are
    disjoint), the worst case for the family; real corpora are
    Heaps-sublinear, so the measured curve upper-bounds the 100 TB
    posture. Types are reported alongside wall so the cost ~ types claim
    is checkable from the record."""
    import time as _t

    from dbt_meshify_spark.operators.lm import (
        kn_ngram_perplexity,
        mkn_ngram_perplexity,
        trigram_perplexity,
    )

    warm = scaled_corpus(base, 1).localCheckpoint()
    trigram_perplexity(warm).write.format("noop").mode("overwrite").save()
    kn_ngram_perplexity(warm, n=5).write.format("noop").mode("overwrite").save()
    mkn_ngram_perplexity(warm, n=5).write.format("noop").mode("overwrite").save()

    for k in (1, 2, 4, 8):
        docs = scaled_corpus(base, k).localCheckpoint()
        toks = docs.select(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
        ).filter(F.size("t") >= 5)
        n5types = (
            toks.select(
                F.explode(
                    F.expr(
                        "transform(slice(t, 1, size(t) - 4), (x, i) ->"
                        " concat_ws(' ', slice(t, i + 1, 5)))"
                    )
                ).alias("g")
            )
            .distinct()
            .count()
        )
        t0 = _t.time()
        trigram_perplexity(docs).write.format("noop").mode("overwrite").save()
        t_jm = _t.time() - t0
        t0 = _t.time()
        kn_ngram_perplexity(docs, n=5).write.format("noop").mode(
            "overwrite"
        ).save()
        t_kn5 = _t.time() - t0
        t0 = _t.time()
        mkn_ngram_perplexity(docs, n=5).write.format("noop").mode(
            "overwrite"
        ).save()
        t_mkn5 = _t.time() - t0
        print(
            f"lm scale={k}x 5gram_types={n5types}: jm3={t_jm:.2f}s "
            f"kn5={t_kn5:.2f}s mkn5={t_mkn5:.2f}s",
            flush=True,
        )


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    if "--sketch" in sys.argv:
        from dbt_meshify_spark.session import get_spark
        from dbt_meshify_spark.sources import load_table

        sketch_family_probe(get_spark(), load_table(get_spark(), sf_dir, "documents"))
        return
    if "--privacy" in sys.argv:
        from dbt_meshify_spark.session import get_spark

        privacy_kmv_probe(get_spark(), sf_dir)
        return
    if "--streaming" in sys.argv:
        from dbt_meshify_spark.session import get_spark

        streaming_probe(get_spark(), sf_dir)
        return
    if "--skew" in sys.argv:
        from dbt_meshify_spark.session import get_spark

        skew_probe(get_spark(), sf_dir)
        return
    if "--pairskew" in sys.argv:
        from dbt_meshify_spark.session import get_spark

        pair_skew_probe(get_spark(), sf_dir)
        return
    if "--relational" in sys.argv:
        from dbt_meshify_spark.session import get_spark

        relational_scale_probe(get_spark(), sf_dir)
        return
    from dbt_meshify_spark.operators.dedup import (
        exact_dedup,
        minhash_candidate_pairs,
        simhash_md5_candidate_pairs,
        substring_run_pairs,
        winnow_overlap_pairs,
    )
    from dbt_meshify_spark.operators.dsir import dsir_log_weights
    from dbt_meshify_spark.operators.sampling import apply_mixture_recipe
    from dbt_meshify_spark.operators.text import (
        code_markup_profile,
        extract_html_text,
        quality_score,
        script_profile,
        turn_echo_scores,
    )
    from dbt_meshify_spark.session import get_spark
    from dbt_meshify_spark.sources import load_table

    spark = get_spark()
    graph_family_probe(spark)
    base = load_table(spark, sf_dir, "documents")

    # warmup: whole-stage-codegen compile is a fixed per-plan cost that the
    # measured loop should not attribute to the smallest scale
    warm = scaled_corpus(base, 1).localCheckpoint()
    quality_score(warm).write.format("noop").mode("overwrite").save()
    exact_dedup(warm, ["text"], order_by=["doc_id"]).count()
    minhash_candidate_pairs(warm, min_jaccard_est=0.5).count()

    def dsir(df):
        return dsir_log_weights(
            df.withColumn("is_target", F.col("lang") == "en"), "is_target"
        )

    def recipe_fill(df):
        recipe = df.groupBy("lang", "source").agg(
            F.floor(0.5 * F.sum("n_chars")).cast("bigint").alias("token_budget")
        )
        return apply_mixture_recipe(
            df, recipe, ["lang", "source"], token_col="n_chars",
            order_by=[F.col("n_chars").desc(), F.col("doc_id").asc()],
        )

    dsir(warm).count()
    recipe_fill(warm).count()
    simhash_md5_candidate_pairs(warm).count()
    winnow_overlap_pairs(warm, min_shared=2).count()

    # web front door + chat gates: wrap text into HTML / a 2-turn chat so
    # the extraction and echo paths do real work at every scale
    def front_door(df):
        wrapped = df.withColumn(
            "html", F.expr("'<p>' || text || '</p><script>x</script>'")
        )
        out = extract_html_text(wrapped)
        return script_profile(code_markup_profile(out), "text_extracted")

    def echo(df):
        conv = df.withColumn(
            "conversation",
            F.expr(
                '\'[{"role":"user","content":"\' || substr(text, 1, 60) || '
                '\'"},{"role":"assistant","content":"\' || '
                'substr(text, 31, 60) || \'"}]\''
            ),
        )
        return turn_echo_scores(conv)

    front_door(warm).write.format("noop").mode("overwrite").save()
    echo(warm).count()
    substring_run_pairs(warm, k=8, min_run_tokens=12).count()

    for k in (1, 2, 4, 8):
        docs = scaled_corpus(base, k).localCheckpoint()  # pin: exclude synth cost
        n = docs.count()
        t0 = time.time()
        quality_score(docs).write.format("noop").mode("overwrite").save()
        t_quality = time.time() - t0
        t0 = time.time()
        n_dedup = exact_dedup(docs, ["text"], order_by=["doc_id"]).count()
        t_dedup = time.time() - t0
        t0 = time.time()
        n_pairs = minhash_candidate_pairs(docs, min_jaccard_est=0.5).count()
        t_minhash = time.time() - t0
        t0 = time.time()
        n_dsir = dsir(docs).count()
        t_dsir = time.time() - t0
        t0 = time.time()
        n_fill = recipe_fill(docs).count()
        t_fill = time.time() - t0
        t0 = time.time()
        n_sh = simhash_md5_candidate_pairs(docs).count()
        t_sh = time.time() - t0
        t0 = time.time()
        n_wn = winnow_overlap_pairs(docs, min_shared=2).count()
        t_wn = time.time() - t0
        t0 = time.time()
        front_door(docs).write.format("noop").mode("overwrite").save()
        t_fd = time.time() - t0
        t0 = time.time()
        n_echo = echo(docs).count()
        t_echo = time.time() - t0
        t0 = time.time()
        n_runs = substring_run_pairs(docs, k=8, min_run_tokens=12).count()
        t_runs = time.time() - t0
        print(
            f"scale={k}x docs={n}: quality={t_quality:.2f}s "
            f"dedup={t_dedup:.2f}s (kept {n_dedup}) "
            f"minhash={t_minhash:.2f}s (pairs {n_pairs}) "
            f"dsir={t_dsir:.2f}s (n {n_dsir}) "
            f"recipe={t_fill:.2f}s (kept {n_fill}) "
            f"simhash64={t_sh:.2f}s (pairs {n_sh}) "
            f"winnow={t_wn:.2f}s (pairs {n_wn}) "
            f"frontdoor={t_fd:.2f}s "
            f"echo={t_echo:.2f}s (n {n_echo}) "
            f"substr_runs={t_runs:.2f}s (runs {n_runs})",
            flush=True,
        )

    lm_family_probe(spark, base)

    # 16x tail extensions: simhash64 (VERDICT r6 ask #6 — wall should stay
    # flat, caps bound the join) and substring runs (VERDICT r7 ask #6 —
    # run count exactly linear, wall bounded by the anchor-join fanout caps)
    docs16 = scaled_corpus(base, 16).localCheckpoint()
    n16 = docs16.count()
    t0 = time.time()
    n_sh16 = simhash_md5_candidate_pairs(docs16).count()
    t_sh16 = time.time() - t0
    t0 = time.time()
    n_runs16 = substring_run_pairs(docs16, k=8, min_run_tokens=12).count()
    print(
        f"scale=16x docs={n16}: simhash64={t_sh16:.2f}s (pairs {n_sh16}) "
        f"substr_runs={time.time() - t0:.2f}s (runs {n_runs16})",
        flush=True,
    )




def sketch_family_probe(spark, base) -> None:
    """CMS / Bloom / Z-order at 1x-16x (round 9). The claims under test:
    (a) the CMS cell table stays CONSTANT at depth*width while distinct
    keys grow ~linearly on the salted copies (fixed-memory state), with
    heavy-hitter wall ~ scan cost; (b) Bloom positions saturate at
    num_bits — on a grown eval set the FP count rises exactly as the
    analytic (1-exp(-kn/m))^k predicts, quantifying WHEN num_bits must
    retune (the plan shape never changes); (c) the z-order grid report is
    one stats pass + one bounded aggregate at every scale."""
    import time as _t

    from dbt_meshify_spark.operators.dedup import tokens_col
    from dbt_meshify_spark.operators.sketches import (
        bloom_decontaminate,
        cms_heavy_hitters,
        cms_sketch,
    )
    from dbt_meshify_spark.sources.layout import zorder_file_stats

    warm = scaled_corpus(base, 1).localCheckpoint()
    wt = warm.select(F.explode(tokens_col(F.col("text"))).alias("token"))
    cms_heavy_hitters(wt, "token").count()
    bloom_decontaminate(
        warm.filter(F.col("doc_id") % 20 != 0),
        warm.filter(F.col("doc_id") % 20 == 0),
    ).count()
    zorder_file_stats(warm, ["doc_id", "n_chars"]).count()

    for k in (1, 4, 16):
        docs = scaled_corpus(base, k).localCheckpoint()
        toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("token"))
        nkeys = toks.distinct().count()
        t0 = _t.time()
        n_cells = cms_sketch(toks, "token").count()
        t_cells = _t.time() - t0
        t0 = _t.time()
        n_hh = cms_heavy_hitters(toks, "token").count()
        t_hh = _t.time() - t0
        tr = docs.filter(F.col("doc_id") % 20 != 0)
        ev = docs.filter(F.col("doc_id") % 20 == 0)
        t0 = _t.time()
        b = bloom_decontaminate(tr, ev).agg(
            F.sum("false_pos").alias("fp"),
            F.sum("n_grams").alias("g"),
            F.count("*").alias("d"),
        ).collect()[0]
        t_bl = _t.time() - t0
        # the retune knob: same plan, num_bits sized ~16x the eval gram
        # count — the broadcast grows to a still-trivial few MB and the FP
        # rate drops back to the analytic design point
        t0 = _t.time()
        b2 = bloom_decontaminate(tr, ev, num_bits=1 << 21).agg(
            F.sum("false_pos").alias("fp")
        ).collect()[0]
        t_bl2 = _t.time() - t0
        t0 = _t.time()
        n_files = zorder_file_stats(docs, ["doc_id", "n_chars"]).count()
        t_z = _t.time() - t0
        from dbt_meshify_spark.operators.sketches import (
            quantile_sketch_cells,
            quantile_sketch_report,
        )

        from dbt_meshify_spark.operators.classifier import (
            classify_documents,
            train_nb_weights,
        )

        lbl = docs.withColumn("is_en", F.col("lang") == F.lit("en"))
        t0 = _t.time()
        wts = train_nb_weights(lbl, "is_en", max_vocab=20_000).localCheckpoint()
        n_vocab = wts.count()
        t_train = _t.time() - t0
        t0 = _t.time()
        n_scored = classify_documents(lbl, wts).count()
        t_score = _t.time() - t0
        print(
            f"scale={k}x classifier: vocab={n_vocab} train={t_train:.2f}s "
            f"score={t_score:.2f}s docs={n_scored}",
            flush=True,
        )
        t0 = _t.time()
        n_qcells = quantile_sketch_cells(
            docs, ["lang"], "n_chars", 0.0, 1024.0, 128
        ).count()
        qrep = quantile_sketch_report(
            docs, ["lang"], "n_chars", [0.5, 0.9, 0.99], 0.0, 1024.0, 128
        ).collect()
        t_q = _t.time() - t0
        q_maxerr = max(r.abs_err for r in qrep)
        print(
            f"scale={k}x keys={nkeys}: cms_cells={n_cells} ({t_cells:.2f}s) "
            f"heavy_hitters={n_hh} ({t_hh:.2f}s) "
            f"bloom8k fp={b['fp']} grams={b['g']} docs={b['d']} ({t_bl:.2f}s) "
            f"bloom2M fp={b2['fp']} ({t_bl2:.2f}s) "
            f"zorder_files={n_files} ({t_z:.2f}s) "
            f"quantile_cells={n_qcells} max_abs_err={q_maxerr} ({t_q:.2f}s)",
            flush=True,
        )



def relational_scale_probe(spark, sf_dir: str) -> None:
    """q43/q44/q45 families at 1x-8x (round 13): INTERSECT ALL / EXCEPT
    ALL via the join-free ReplicateRows rewrite, FILTER-clause aggregates,
    and WITHIN GROUP percentiles — every one a single-exchange hash/sort
    aggregate expected to scale ~linearly in input rows.

    Scale-up: lineitem copies shift l_suppkey by copy index (per-key
    multiplicities constant, key count grows linearly — the honest test
    for the per-key dual-count aggregate; naive duplication would double
    multiplicities instead of keys and shrink the EXCEPT ALL surplus
    artificially). Orders copies keep their group keys, so q44/q45 groups
    stay at 5 while rows grow — the mega-group direction, which is the
    documented stress case for sort-based percentile buffers."""
    import time as _t

    from dbt_meshify_spark.queries.relational import (
        _Q43_SQL,
        _Q44_SQL,
        _Q45_SQL,
    )
    from dbt_meshify_spark.sources import load_table

    li0 = load_table(spark, sf_dir, "lineitem")
    od0 = load_table(spark, sf_dir, "orders")
    max_supp = li0.agg(F.max("l_suppkey")).first()[0] + 1

    # warmup pins codegen outside the timing loop
    li0.limit(1000).createOrReplaceTempView("li_probe")
    od0.limit(1000).createOrReplaceTempView("ord_probe")
    spark.sql(_Q43_SQL.format(li="li_probe")).count()
    spark.sql(_Q44_SQL.format(ord="ord_probe")).count()
    spark.sql(_Q45_SQL.format(ord="ord_probe")).count()

    for k in (1, 2, 4, 8):
        li = li0
        od = od0
        for i in range(1, k):
            li = li.unionByName(
                li0.withColumn("l_suppkey", F.col("l_suppkey") + i * max_supp)
            )
            od = od.unionByName(od0)
        li = li.localCheckpoint()
        od = od.localCheckpoint()
        n_li, n_od = li.count(), od.count()
        li.createOrReplaceTempView("li_probe")
        od.createOrReplaceTempView("ord_probe")
        t0 = _t.time()
        n43 = spark.sql(_Q43_SQL.format(li="li_probe")).count()
        t43 = _t.time() - t0
        t0 = _t.time()
        n44 = spark.sql(_Q44_SQL.format(ord="ord_probe")).count()
        t44 = _t.time() - t0
        t0 = _t.time()
        n45 = spark.sql(_Q45_SQL.format(ord="ord_probe")).count()
        t45 = _t.time() - t0
        print(
            f"relational scale={k}x li={n_li} ord={n_od}: "
            f"multiset_rows={n43} ({t43:.2f}s) "
            f"filtered_agg_rows={n44} ({t44:.2f}s) "
            f"ordered_set_rows={n45} ({t45:.2f}s)",
            flush=True,
        )


def privacy_kmv_probe(spark, sf_dir: str) -> None:
    """KMV + privacy tier at 1x-16x of the events corpus (round 9).
    Scale-up = user-shifted copies (each copy's users disjoint, ts
    shifted by copy index days): distinct users and QI groups grow
    linearly — the worst case for both operators. Claims under test:
    KMV state stays k hashes/key while distinct users grow 16x (and the
    estimator error stays in the 1/sqrt(k-2) band); the k-anonymity
    audit and the contribution cap are one/two partial-agg shuffles with
    no superlinear term."""
    import time as _t

    from dbt_meshify_spark.operators.privacy import (
        bounded_contribution_agg,
        k_anonymity_report,
    )
    from dbt_meshify_spark.operators.sketches import kmv_cardinality
    from dbt_meshify_spark.sources import load_table

    base = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    n_users = base.agg(F.countDistinct("user_id")).collect()[0][0]
    # shift by max_id + 1, NOT the distinct count: sparse ids would make
    # count-shifted copies overlap and silently shrink the claimed
    # linear-user growth
    uid_shift = base.agg(F.max("user_id")).collect()[0][0] + 1

    def scaled_events(k: int):
        parts = [base]
        for i in range(1, k):
            parts.append(
                base.select(
                    (F.col("event_id") + i * 10_000_000).alias("event_id"),
                    (F.col("ts") + F.expr(f"INTERVAL {i} DAYS")).alias("ts"),
                    (F.col("user_id") + i * uid_shift).alias("user_id"),
                    "event_type",
                    "value",
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    warm = scaled_events(1).localCheckpoint()
    kmv_cardinality(warm, ["event_type"], "user_id", k=64).count()
    k_anonymity_report(
        warm.withColumn("day", F.col("ts").cast("date")),
        ["event_type", "day"], "user_id",
    ).count()
    bounded_contribution_agg(warm, ["event_type"]).count()

    for k in (1, 4, 16):
        ev = scaled_events(k).localCheckpoint()
        t0 = _t.time()
        rows = kmv_cardinality(ev, ["event_type"], "user_id", k=64).collect()
        t_kmv = _t.time() - t0
        max_err = max(r.rel_err for r in rows)
        t0 = _t.time()
        n_groups = k_anonymity_report(
            ev.withColumn("day", F.col("ts").cast("date")),
            ["event_type", "day"], "user_id",
        ).count()
        t_ka = _t.time() - t0
        t0 = _t.time()
        bounded_contribution_agg(ev, ["event_type"]).count()
        t_bc = _t.time() - t0
        from dbt_meshify_spark.operators.privacy import (
            dp_noisy_user_counts,
            l_diversity_report,
        )

        evd = ev.withColumn("day", F.col("ts").cast("date"))
        t0 = _t.time()
        n_ld = l_diversity_report(
            evd.withColumn(
                "vb", F.floor(F.col("value") / F.lit(100.0)).cast("bigint")
            ),
            ["event_type", "day"],
            "vb",
        ).count()
        t_ld = _t.time() - t0
        t0 = _t.time()
        dp = dp_noisy_user_counts(evd, ["event_type", "day"]).agg(
            F.count("*").alias("g"), F.sum(F.abs("noise")).alias("tn")
        ).collect()[0]
        t_dp = _t.time() - t0
        print(
            f"scale={k}x users={k * n_users}: kmv={t_kmv:.2f}s "
            f"(max_rel_err {max_err}) k_anon={t_ka:.2f}s "
            f"(groups {n_groups}) bounded_contrib={t_bc:.2f}s "
            f"l_div={t_ld:.2f}s (groups {n_ld}) dp_release={t_dp:.2f}s "
            f"(groups {dp['g']} sum|z| {dp['tn']})",
            flush=True,
        )

def skew_probe(spark, sf_dir: str) -> None:
    """Hot-key skew probe for the event/session family (round 11, verdict
    task 6). SCALE.md asserts the user-keyed window family's posture, but
    the volume probes only measure UNIFORM synthetic growth; this one
    plants a bot-grade hot key — 30% of all events remapped to ONE
    user_id — at 1x/8x and measures (a) the window-exchange partition
    imbalance (max-partition share replicated exactly via
    pmod(hash(user_id), shuffle_partitions) — the task-time proxy for a
    CPU-bound window: AQE CANNOT split a skewed WINDOW partition, its
    skew handling applies to joins/aggregates only) and (b) the measured
    wall amplification skew/uniform for sessionize and
    user_activity_report. If the 8x amplification is material (>2x), the
    family needs the salted two-phase sessionize
    (operators/temporal.py::sessionize_salted) — record the verdict in
    SCALE.md either way."""
    import time as _t

    from dbt_meshify_spark.operators.temporal import user_activity_report
    from dbt_meshify_spark.sources import load_table

    base = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    uid_shift = base.agg(F.max("user_id")).collect()[0][0] + 1
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def scaled(k: int, skewed: bool):
        parts = [base]
        for i in range(1, k):
            parts.append(
                base.select(
                    (F.col("event_id") + i * 10_000_000).alias("event_id"),
                    (F.col("ts") + F.expr(f"INTERVAL {i} DAYS")).alias("ts"),
                    (F.col("user_id") + i * uid_shift).alias("user_id"),
                    "event_type",
                    "value",
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if skewed:
            # exactly 30% of events (event_id % 10 < 3) land on one hot user
            out = out.withColumn(
                "user_id",
                F.when(F.col("event_id") % 10 < 3, F.lit(0)).otherwise(
                    F.col("user_id")
                ),
            )
        return out

    def sessionize(ev):
        # the REAL naive operator, not an inline copy — the probe must
        # measure what SCALE.md records
        from dbt_meshify_spark.operators.temporal import sessionize_events

        return sessionize_events(ev, gap_s=1800)

    def salted(ev):
        from dbt_meshify_spark.operators.temporal import sessionize_salted

        # hourly buckets (minimum legal granularity for the 30-min gap is
        # gap_s itself; hourly gives the hot user ~720 segments over the
        # 30-day corpus vs 32 shuffle partitions — full spread)
        return sessionize_salted(ev, gap_s=1800, bucket_s=3600)

    def asof_pair(ev, use_salted: bool):
        # the other un-splittable user-keyed window family: clicks get
        # their latest prior purchase (the ext_asof_join task)
        from dbt_meshify_spark.operators.temporal import (
            asof_join,
            asof_join_salted,
        )

        clicks = ev.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        purchases = (
            ev.filter(F.col("event_type") == "purchase")
            .groupBy("user_id", "ts")
            .agg(F.max("event_id").alias("purchase_id"))
        )
        fn = asof_join_salted if use_salted else asof_join
        kw = dict(
            keys=["user_id"], left_ts="ts", right_ts="ts",
            value_cols=["purchase_id"],
        )
        if use_salted:
            kw["bucket_s"] = 3600
        return fn(clicks, purchases, **kw)

    # warmup compiles every plan once
    warm = scaled(1, False).localCheckpoint()
    sessionize(warm).write.format("noop").mode("overwrite").save()
    salted(warm).write.format("noop").mode("overwrite").save()
    user_activity_report(warm).write.format("noop").mode("overwrite").save()
    asof_pair(warm, False).write.format("noop").mode("overwrite").save()
    asof_pair(warm, True).write.format("noop").mode("overwrite").save()

    for k in (1, 8):
        walls = {}
        for label, skewed in (("uniform", False), ("skew30", True)):
            ev = scaled(k, skewed).localCheckpoint()
            total = ev.count()
            mx = (
                ev.groupBy(F.pmod(F.hash("user_id"), F.lit(nparts)).alias("p"))
                .count()
                .agg(F.max("count"))
                .collect()[0][0]
            )
            # the salted window's exchange key is (user_id, hourly bucket)
            salt_b = F.floor(
                F.unix_micros(F.col("ts").cast("timestamp"))
                / F.lit(3600 * 1_000_000)
            )
            mx_salted = (
                ev.groupBy(
                    F.pmod(F.hash("user_id", salt_b), F.lit(nparts)).alias("p")
                )
                .count()
                .agg(F.max("count"))
                .collect()[0][0]
            )
            t0 = _t.time()
            sessionize(ev).write.format("noop").mode("overwrite").save()
            t_sess = _t.time() - t0
            t0 = _t.time()
            salted(ev).write.format("noop").mode("overwrite").save()
            t_salt = _t.time() - t0
            t0 = _t.time()
            user_activity_report(ev).write.format("noop").mode("overwrite").save()
            t_act = _t.time() - t0
            t0 = _t.time()
            asof_pair(ev, False).write.format("noop").mode("overwrite").save()
            t_asof = _t.time() - t0
            t0 = _t.time()
            asof_pair(ev, True).write.format("noop").mode("overwrite").save()
            t_asof_s = _t.time() - t0
            walls[label] = (t_sess, t_salt, t_act, t_asof, t_asof_s)
            print(
                f"scale={k}x {label}: rows={total} "
                f"max_window_partition_share={mx / total:.3f} "
                f"salted_share={mx_salted / total:.3f} "
                f"(ideal {1 / nparts:.3f}) sessionize={t_sess:.2f}s "
                f"salted_sessionize={t_salt:.2f}s activity={t_act:.2f}s "
                f"asof={t_asof:.2f}s salted_asof={t_asof_s:.2f}s",
                flush=True,
            )
        u, s = walls["uniform"], walls["skew30"]
        print(
            f"scale={k}x AMPLIFICATION skew/uniform: "
            f"sessionize={s[0] / u[0]:.2f}x salted={s[1] / u[1]:.2f}x "
            f"activity={s[2] / u[2]:.2f}x asof={s[3] / u[3]:.2f}x "
            f"salted_asof={s[4] / u[4]:.2f}x",
            flush=True,
        )


def pair_skew_probe(spark, sf_dir: str) -> None:
    """Hot-BUCKET skew probe for the pair-join plane (round 12, verdict
    task 4). The round-11 probe covered the WINDOW family; the banding and
    fuzzy joins instead rely on deterministic hot-bucket caps
    (minhash_candidate_pairs / hash64_candidate_pairs max_bucket_size,
    edit_distance_join max_bucket_pairs) that were correctness-tested but
    never probed under planted skew at volume. This plants a boilerplate
    whale — 30% of all documents (doc_id % 10 < 3) remapped to ONE text /
    ONE name, so every shingle band, every fingerprint chunk and every
    fuzzy chunk key of those rows collapses onto one bucket — and
    measures, at 1x/8x of sf0.1:

    - candidate-pair counts and wall with caps ON (linearity claim: pairs
      from the whale grow ~linearly once capped — cap^2 is constant and
      the overflow term is linear);
    - the same with caps OFF at 1x/2x only (the quadratic trend: the whale
      alone contributes C(0.3N, 2) pairs, 4x per doubling — running the
      uncapped 8x would be the very pathology the caps exist to prevent);
    - the banding exchange's max partition share with caps on (the cap cuts
      each whale bucket to cap rows BEFORE the self-join, so no single
      join task inherits the whale).
    """
    import time as _t

    from dbt_meshify_spark.operators.dedup import (
        hash64_candidate_pairs,
        minhash_candidate_pairs,
        simhash,
    )
    from dbt_meshify_spark.operators.fuzzy import (
        edit_distance_join,
        fuzzy_join_capped_buckets,
    )
    from dbt_meshify_spark.sources import load_table

    base = load_table(spark, sf_dir, "documents")
    boiler = (
        "subscribe to our newsletter for updates terms of service apply "
        "all rights reserved contact us at support example com privacy "
        "policy cookie settings do not sell my information site map help"
    )

    def planted(k: int):
        docs = scaled_corpus(base, k)
        return docs.withColumn(
            "text",
            F.when(F.col("doc_id") % 10 < 3, F.lit(boiler)).otherwise(
                F.col("text")
            ),
        ).withColumn(
            "name",
            F.when(F.col("doc_id") % 10 < 3, F.lit("boilerplate-site")).otherwise(
                F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
            ),
        )

    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    MH = dict(num_hashes=32, bands=8, min_jaccard_est=0.5)

    # warmup compiles each plan shape once
    warm = planted(1).localCheckpoint()
    minhash_candidate_pairs(warm, **MH).count()
    hash64_candidate_pairs(simhash(warm), "doc_id", "simhash", max_bucket_size=500).count()
    def name_sides(df):
        l = df.select("doc_id", "name")
        r = df.select(
            F.col("doc_id").alias("rid"), F.col("name").alias("rname")
        )
        return l, r

    wl, wr = name_sides(warm)
    edit_distance_join(wl, wr, "doc_id", "name", "rid", "rname").count()

    for k in (1, 2, 8):
        docs = planted(k).localCheckpoint()
        n = docs.count()
        hot = docs.filter(F.col("doc_id") % 10 < 3).count()

        # ---- minhash banding tier (shingle plane) ----
        t0 = _t.time()
        n_cap = minhash_candidate_pairs(docs, max_bucket_size=1000, **MH).count()
        t_cap = _t.time() - t0
        # banding-exchange max partition share with the cap applied: kept
        # rows per (band_idx, band_hash) <= cap, so the whale is cut before
        # the self-join keys ever hash to a partition
        from dbt_meshify_spark.operators.dedup import minhash_signatures
        from dbt_meshify_spark.operators.dedup import _band_key_array

        sigged = minhash_signatures(
            docs.select("doc_id", "text"), "text", 32, 3, 42, hash_fn="xxhash64"
        ).select("doc_id", "minhash")
        banded = sigged.select(
            "doc_id", F.posexplode(_band_key_array(4, 8, "xxhash64")).alias(
                "band_idx", "band_hash"
            )
        )
        from pyspark.sql import Window as _W

        capped_rows = banded.withColumn(
            "__bn",
            F.row_number().over(
                _W.partitionBy("band_idx", "band_hash").orderBy("doc_id")
            ),
        ).filter(F.col("__bn") <= 1000)
        share = (
            capped_rows.groupBy(
                F.pmod(F.hash("band_idx", "band_hash"), F.lit(nparts)).alias("p")
            )
            .count()
            .agg(F.max("count") / F.sum("count"))
            .collect()[0][0]
        )
        uncap = ""
        if k <= 2:
            t0 = _t.time()
            n_off = minhash_candidate_pairs(
                docs, max_bucket_size=1_000_000_000, **MH
            ).count()
            uncap = f" caps_OFF pairs={n_off} ({_t.time() - t0:.2f}s)"

        # ---- 64-bit fingerprint banding tier (simhash/dHash plane) ----
        fp = simhash(docs)
        t0 = _t.time()
        n_h64 = hash64_candidate_pairs(
            fp, "doc_id", "simhash", max_bucket_size=500
        ).count()
        t_h64 = _t.time() - t0
        h64_off = ""
        if k <= 2:
            t0 = _t.time()
            n_h64_off = hash64_candidate_pairs(
                fp, "doc_id", "simhash", max_bucket_size=1_000_000_000
            ).count()
            h64_off = f" caps_OFF pairs={n_h64_off} ({_t.time() - t0:.2f}s)"

        # ---- fuzzy edit-distance join (chunk-key plane) ----
        nl, nr = name_sides(docs)
        t0 = _t.time()
        n_fz = edit_distance_join(
            nl, nr, "doc_id", "name", "rid", "rname"
        ).count()
        t_fz = _t.time() - t0
        n_capped_buckets = fuzzy_join_capped_buckets(
            nl, nr, "name", "rname"
        ).count()

        print(
            f"pairskew scale={k}x docs={n} hot={hot}: "
            f"minhash caps_ON pairs={n_cap} ({t_cap:.2f}s) "
            f"banded_max_share={share:.3f} (ideal {1 / nparts:.3f}){uncap} | "
            f"hash64 caps_ON pairs={n_h64} ({t_h64:.2f}s){h64_off} | "
            f"fuzzy join={n_fz} ({t_fz:.2f}s) capped_buckets={n_capped_buckets}",
            flush=True,
        )


def streaming_probe(spark, sf_dir: str) -> None:
    """Streaming tier at synthesized 1x-16x volume (round 10). Claims under
    test (SCALE.md): drain wall grows ~linearly with volume at a fixed
    per-micro-batch cost; the CMS monitor's on-disk state stays
    <= batches x depth*width cells and the ES sample's <= batches x k
    candidate rows (state grows with BATCHES, never with documents); the
    stream-stream join's state store holds the in-horizon tail
    (numRowsTotal from the final progress), not the stream. Scale-up =
    id-shifted copies written as 4k parquet files with
    maxFilesPerTrigger=4, so micro-batch count grows with volume the way
    a live ingest's would."""
    import os
    import shutil
    import time as _t

    from dbt_meshify_spark.queries.extensions import _stream_scratch
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_cms_heavy_hitters,
        stream_weighted_sample,
    )
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        stream_state_partitions,
        stream_stream_join_clicks_to_purchases,
    )

    # under the per-process scratch root, so a crashed probe's leftovers are
    # reclaimed by the next session's dead-PID sweep
    root = _stream_scratch("stream_probe_")
    base_docs = load_table(spark, sf_dir, "documents")

    def scaled(base, k: int, shift_col: str, shift: int):
        parts = [base]
        for i in range(1, k):
            parts.append(
                base.withColumn(shift_col, F.col(shift_col) + F.lit(i * shift))
            )
        out = parts[0]
        for pt in parts[1:]:
            out = out.unionByName(pt)
        return out

    for k in (1, 8, 16):
        path = f"{root}/docs_{k}"
        scaled(base_docs, k, "doc_id", 10_000_000).repartition(
            4 * k
        ).write.mode("overwrite").parquet(path)
        out_dir = f"{root}/cms_{k}"
        feed = read_documents_stream(spark, path, max_files_per_trigger=4)
        t0 = _t.time()
        hh = stream_cms_heavy_hitters(feed, spark.read.parquet(path), out_dir)
        n_hh = hh.count()
        t_cms = _t.time() - t0
        cells = spark.read.parquet(f"{out_dir}/cells").count()
        batches = len(
            [d for d in os.listdir(f"{out_dir}/cells") if d.startswith("batch=")]
        )
        assert cells <= batches * 4 * 1024, (cells, batches)
        es_dir = f"{root}/es_{k}"
        feed2 = read_documents_stream(spark, path, max_files_per_trigger=4)
        t0 = _t.time()
        samp = stream_weighted_sample(
            feed2, es_dir, k=50, weight_col="n_chars", key_cols=["doc_id"]
        )
        n_s = samp.count()
        t_es = _t.time() - t0
        cands = spark.read.parquet(f"{es_dir}/cands").count()
        assert cands <= batches * 50 and n_s == 50, (cands, batches, n_s)
        print(
            f"docs scale={k}x batches={batches}: cms drain={t_cms:.2f}s "
            f"state_cells={cells} (cap {batches * 4096}); es drain="
            f"{t_es:.2f}s cand_state={cands} (cap {batches * 50})",
            flush=True,
        )

    base_ev = load_table(spark, sf_dir, "events")
    uid_shift = base_ev.agg(F.max("user_id")).collect()[0][0] + 1
    for k in (1, 4, 8):
        path = f"{root}/ev_{k}"
        ev = scaled(base_ev, k, "user_id", uid_shift).withColumn(
            "event_id",
            F.col("event_id") + (F.col("user_id") / uid_shift).cast("bigint") * 10_000_000,
        )
        ev.repartition(4 * k).write.mode("overwrite").parquet(path)
        clicks = read_events_stream(spark, path, max_files_per_trigger=4).filter(
            F.col("event_type") == "click"
        )
        purchases = read_events_stream(
            spark, path, max_files_per_trigger=4
        ).filter(F.col("event_type") == "purchase")
        pairs = stream_stream_join_clicks_to_purchases(clicks, purchases)
        name = f"probe_join_{k}"
        t0 = _t.time()
        with stream_state_partitions(spark, 16):
            q = (
                pairs.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        t_j = _t.time() - t0
        prog = q.lastProgress
        state_rows = (
            sum(op["numRowsTotal"] for op in prog["stateOperators"])
            if prog and prog.get("stateOperators")
            else -1
        )
        n_pairs = spark.table(name).count()
        n_input = spark.read.parquet(path).count()
        print(
            f"events scale={k}x: join drain={t_j:.2f}s pairs={n_pairs} "
            f"final_state_rows={state_rows} input_rows={n_input}",
            flush=True,
        )
    shutil.rmtree(root, ignore_errors=True)



if __name__ == "__main__":
    main()
