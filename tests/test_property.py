"""Property-based tests (hypothesis) — a verification layer the reference
lacks entirely (SURVEY.md §5.1 'Absent'): randomized round-trip, algebraic,
and invariant checks over the governance primitives and selector grammar.
"""

from __future__ import annotations

import dataclasses
import string
from pathlib import Path

from hypothesis import given, settings
from hypothesis import strategies as st

from dbt_meshify_spark.plans import graph as G
from dbt_meshify_spark.plans.changes import (
    dict_to_named_list,
    merged,
    named_list_to_dict,
)
from dbt_meshify_spark.plans.manifest import Manifest, Resource
from dbt_meshify_spark.project.compiler import CompileError, JinjaCompiler

_name = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8)
_scalar = st.one_of(st.integers(), st.booleans(), _name)


# -- NamedList round-trip (C2) ------------------------------------------------


@given(
    st.lists(
        st.fixed_dictionaries(
            {"name": _name},
            optional={"description": _name, "priority": st.integers()},
        ),
        max_size=8,
        unique_by=lambda d: d["name"],
    )
)
def test_named_list_round_trip(entries):
    assert dict_to_named_list(named_list_to_dict(entries)) == entries


# -- merge algebra (C2) -------------------------------------------------------


_doc = st.recursive(
    st.dictionaries(_name, _scalar, max_size=4),
    lambda children: st.dictionaries(_name, children | _scalar, max_size=4),
    max_leaves=10,
)


@given(_doc, _doc)
def test_safe_update_idempotent(a, b):
    once = merged(a, b)
    twice = merged(once, b)
    assert once == twice


@given(_doc)
def test_safe_update_identity(a):
    assert merged(a, {}) == a


@given(_doc, _name)
def test_safe_update_none_deletes(a, key):
    out = merged(a, {key: None})
    assert key not in out


# -- selector algebra (G1) ----------------------------------------------------


@st.composite
def _manifests(draw):
    n = draw(st.integers(min_value=1, max_value=10))
    names = [f"m{i}" for i in range(n)]
    resources = []
    for i, name in enumerate(names):
        # edges only to earlier nodes -> guaranteed acyclic
        deps = draw(
            st.lists(
                st.sampled_from([f"model.p.{names[j]}" for j in range(i)])
                if i
                else st.nothing(),
                max_size=3,
                unique=True,
            )
        ) if i else []
        resources.append(
            Resource(unique_id=f"model.p.{name}", name=name, depends_on=deps)
        )
    return Manifest(resources)


@given(_manifests(), st.integers(min_value=0, max_value=9))
@settings(max_examples=50)
def test_selection_contains_seed_and_closures_nest(manifest, idx):
    names = sorted(r.name for r in manifest.resources.values())
    seed = names[idx % len(names)]
    plain = G.select_resources(manifest, seed)
    up = G.select_resources(manifest, f"+{seed}")
    down = G.select_resources(manifest, f"{seed}+")
    both = G.select_resources(manifest, f"+{seed}+")
    assert f"model.p.{seed}" in plain
    assert plain <= up and plain <= down
    assert up | down <= both
    # bounded depth never selects more than unbounded
    assert G.select_resources(manifest, f"1+{seed}") <= up


@given(_manifests(), st.integers(min_value=0, max_value=9))
@settings(max_examples=50)
def test_exclusion_removes_exactly(manifest, idx):
    names = sorted(r.name for r in manifest.resources.values())
    seed = names[idx % len(names)]
    everything = G.select_resources(manifest, "*")
    without = G.select_resources(manifest, "*", exclude=seed)
    assert f"model.p.{seed}" not in without
    assert without <= everything


@given(_manifests(), st.integers(min_value=0, max_value=9), st.booleans())
@settings(max_examples=50)
def test_xproj_reference_test_node_semantics(manifest, idx, select_test):
    """r13 reference-parity invariants for G7/G8 (dbt_projects.py:76-108):
    the xproj sets are disjoint from the selection; a cycle is exactly
    both sets nonempty (no extra filtering); a test node hanging off a
    selected model never acts as an ITERATION SOURCE (parents unchanged)
    but DOES count as a cross-boundary child unless itself selected."""
    names = sorted(r.name for r in manifest.resources.values())
    seed = names[idx % len(names)]
    sel = {f"model.p.{seed}"}
    ch = G.xproj_children(manifest, sel)
    pa = G.xproj_parents(manifest, sel)
    assert not (ch & sel) and not (pa & sel)
    assert G.is_project_cycle(manifest, sel) == (bool(ch) and bool(pa))
    t = Resource(
        unique_id="test.p.t_prop", name="t_prop", resource_type="test",
        depends_on=[f"model.p.{seed}"],
    )
    manifest.add(t)
    sel2 = sel | ({t.unique_id} if select_test else set())
    assert G.xproj_parents(manifest, sel2) == pa
    ch2 = G.xproj_children(manifest, sel2)
    if select_test:
        assert t.unique_id not in ch2
        assert ch2 == ch
    else:
        assert t.unique_id in ch2
        assert ch2 == ch | {t.unique_id}


@given(_manifests())
@settings(max_examples=50)
def test_access_classification_total_and_valid(manifest):
    selected = set(manifest.resources)
    access = G.classify_access(manifest, selected)
    assert set(access) == selected
    assert set(access.values()) <= {"protected", "private"}
    # a full-graph selection has no crossing edges: protected == leaves
    leaves = {
        u for u in selected if not manifest.child_map().get(u)
    }
    assert {u for u, a in access.items() if a == "protected"} == leaves


# -- version arithmetic (V5/V6) ----------------------------------------------


@given(
    st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=6, unique=True)
)
def test_bump_version_always_advances(versions):
    from pathlib import Path

    from dbt_meshify_spark.plans.versions import BumpBehavior, bump_version

    model = Resource(unique_id="model.p.m", name="m", path="models/m.sql")
    model.version = max(versions)
    cs = bump_version(
        model, Path("x.yml"), Path("models"),
        behavior=BumpBehavior.Increment, existing_versions=versions,
    )
    patch = cs.changes[0].data
    assert patch["latest_version"] == max(versions) + 1
    vs = [v["v"] for v in patch["versions"]]
    assert vs == sorted(versions) + [max(versions) + 1]


# -- fuzzy join pigeonhole soundness ----------------------------------------


@given(
    st.lists(
        st.text(alphabet="abcdef", min_size=8, max_size=20), min_size=2,
        max_size=8, unique=True,
    ),
    st.integers(min_value=0, max_value=3),
    st.randoms(use_true_random=False),
)
@settings(max_examples=15, deadline=None)
def test_edit_distance_join_substitution_pigeonhole(base_strings, n_subs, rnd):
    """For equal-length strings differing only by <= k substitutions, the
    aligned-chunk pigeonhole is SOUND: at least one of the k+1 chunks is
    untouched, so the join must find every such pair (cap not triggered at
    this scale)."""
    from dbt_meshify_spark.operators.fuzzy import edit_distance_join
    from dbt_meshify_spark.session import get_spark

    spark = get_spark(app_name="dbt-meshify-spark-tests")
    k = 4
    left = [(i, s) for i, s in enumerate(base_strings)]
    right = []
    for i, s in enumerate(base_strings):
        chars = list(s)
        for _ in range(n_subs):
            pos = rnd.randrange(len(chars))
            chars[pos] = rnd.choice("abcdef")
        right.append((1000 + i, "".join(chars)))
    got = {
        (r.lid, r.rid)
        for r in edit_distance_join(
            spark.createDataFrame(left, ["lid", "lname"]),
            spark.createDataFrame(right, ["rid", "rname"]),
            "lid", "lname", "rid", "rname", k=k,
        ).collect()
    }
    # every (i, 1000+i) pair is within n_subs <= 3 < k substitutions
    for i, _ in enumerate(base_strings):
        assert (i, 1000 + i) in got


# -- temperature mixture weights (N9) -----------------------------------------


_counts = st.dictionaries(
    _name, st.integers(min_value=1, max_value=10**9), min_size=1, max_size=12
)


@given(_counts, st.floats(min_value=0.0, max_value=1.0))
@settings(max_examples=200)
def test_temperature_weights_preserve_expected_total(counts, alpha):
    from dbt_meshify_spark.operators.sampling import (
        temperature_weights_from_counts,
    )

    w = temperature_weights_from_counts(counts, alpha)
    assert set(w) == set(counts)
    total = sum(counts.values())
    mixed = sum(w[s] * n for s, n in counts.items())
    assert abs(mixed - total) <= 1e-9 * max(1.0, total)
    assert all(v > 0 for v in w.values())


@given(_counts)
@settings(max_examples=100)
def test_temperature_alpha_one_is_identity(counts):
    from dbt_meshify_spark.operators.sampling import (
        temperature_weights_from_counts,
    )

    w = temperature_weights_from_counts(counts, 1.0)
    assert all(abs(v - 1.0) < 1e-12 for v in w.values())


@given(_counts, st.floats(min_value=0.0, max_value=1.0))
@settings(max_examples=200)
def test_temperature_flattens_toward_small_sources(counts, alpha):
    """For alpha <= 1, a smaller source never gets a smaller weight."""
    from dbt_meshify_spark.operators.sampling import (
        temperature_weights_from_counts,
    )

    w = temperature_weights_from_counts(counts, alpha)
    items = sorted(counts.items(), key=lambda kv: kv[1])
    for (sa, na), (sb, nb) in zip(items, items[1:]):
        if na < nb:
            assert w[sa] >= w[sb] - 1e-12


# -- PSI invariants (drift monitors) -----------------------------------------


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1000),
            st.integers(min_value=0, max_value=1000),
        ),
        min_size=2,
        max_size=8,
    )
)
@settings(max_examples=12, deadline=None)
def test_psi_terms_nonnegative_and_total_consistent(counts):
    """(p-q)ln(p/q) >= 0 for every bucket (Gibbs), total == sum of terms,
    and identical distributions give PSI == 0 — for ANY count vector,
    including empty buckets (Laplace smoothing must keep logs finite)."""
    from dbt_meshify_spark.operators.snapshots import psi_from_counts
    from dbt_meshify_spark.session import get_spark

    spark = get_spark(app_name="dbt-meshify-spark-tests", shuffle_partitions=8)

    n = len(counts)
    cnts = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(counts)],
        "bucket int, n_old long, n_new long",
    )
    rows = psi_from_counts(cnts, n_buckets=n).collect()
    assert len(rows) == n
    total = rows[0]["psi_total"]
    assert all(abs(r["psi_total"] - total) < 1e-12 for r in rows)
    assert all(r["psi_term"] >= -1e-12 for r in rows)
    assert abs(sum(r["psi_term"] for r in rows) - total) < 1e-9

    same = spark.createDataFrame(
        [(i, a, a) for i, (a, _) in enumerate(counts)],
        "bucket int, n_old long, n_new long",
    )
    zero = psi_from_counts(same, n_buckets=n).collect()[0]["psi_total"]
    assert abs(zero) < 1e-12


# -- 64-bit banding pigeonhole completeness ----------------------------------


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.sets(st.integers(min_value=0, max_value=63), min_size=0, max_size=3),
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=10, deadline=None)
def test_hash64_banding_finds_every_close_pair(cases):
    """Pigeonhole guarantee: for ANY base hash and ANY <=3 flipped bits,
    4-band blocking over 64 bits must emit the (base, variant) pair —
    banding may overgenerate but can never miss within max_hamming <=
    bands-1. All generated cases batch into ONE Spark job."""
    from dbt_meshify_spark.operators.dedup import hash64_candidate_pairs
    from dbt_meshify_spark.session import get_spark

    spark = get_spark(app_name="dbt-meshify-spark-tests", shuffle_partitions=8)
    rows = []
    expected = set()
    for i, (base, flips) in enumerate(cases):
        variant = base
        for b in flips:
            variant ^= 1 << b
        # flipping bit 63 in Python int arithmetic escapes int64 in BOTH
        # directions (negative base -> below -2^63); mask to 64 bits then
        # re-sign instead of correcting only the positive overflow
        variant &= 2**64 - 1
        if variant >= 2**63:
            variant -= 2**64
        a_id, b_id = i * 2, i * 2 + 1
        rows.append((a_id, base))
        rows.append((b_id, variant))
        expected.add((a_id, b_id, len(flips)))
    # ids are disjoint across cases, so cross-case pairs may appear (hash
    # collisions in banding) but every planted pair MUST appear
    df = spark.createDataFrame(rows, "id long, h long")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hash64_candidate_pairs(df, "id", "h", max_hamming=3, bands=4).collect()
    }
    missing = {e for e in expected if e not in got}
    assert not missing, f"pigeonhole violated: {missing}"


# -- winnowing guarantee ------------------------------------------------------


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),  # prefix length
            st.integers(min_value=0, max_value=30),  # suffix length
            st.integers(min_value=8, max_value=14),  # shared-run tokens
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=8, deadline=None)
def test_winnowing_never_misses_long_shared_runs(cases):
    """For ANY surrounding text, two docs sharing a verbatim run of
    >= window + k - 1 tokens (k=5, window=4 -> 8) must share at least one
    winnowing print. All cases batch into one Spark job; vocabularies are
    disjoint per case AND per side so only the planted run can match."""
    from dbt_meshify_spark.operators.dedup import winnow_overlap_pairs
    from dbt_meshify_spark.session import get_spark

    spark = get_spark(app_name="dbt-meshify-spark-tests", shuffle_partitions=8)
    rows, expected = [], set()
    for i, (npre, nsuf, nshared) in enumerate(cases):
        shared = " ".join(f"c{i}x{j}" for j in range(nshared))
        pre = " ".join(f"a{i}x{j}" for j in range(npre))
        suf = " ".join(f"b{i}x{j}" for j in range(nsuf))
        a_id, b_id = i * 2, i * 2 + 1
        rows.append((a_id, f"{pre} {shared}".strip()))
        rows.append((b_id, f"{shared} {suf}".strip()))
        expected.add((a_id, b_id))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in winnow_overlap_pairs(df, k=5, window=4, min_shared=1).collect()
    }
    missing = expected - got
    assert not missing, f"winnowing guarantee violated: {missing}"


# -- Kneser-Ney ladder normalization (N4) --------------------------------------

_lm_word = st.sampled_from(["a", "b", "c", "ab", "ba"])
_lm_doc = st.lists(_lm_word, min_size=4, max_size=9)
_lm_corpus = st.lists(_lm_doc, min_size=2, max_size=6)


def _kn_ladder_prob(docs, n, mode, discount=0.75):
    """Pure-Python mirror of the generic KN/MKN ladder formulas
    (operators/lm.py::kn_ngram_perplexity / mkn_ngram_perplexity —
    Spark equality is pinned separately by the exact-float replay tests
    in test_operators.py). Returns (vocab, contexts, p) where
    ``p(ctx, w)`` is the full conditional for ANY vocab word, observed
    or not (unobserved counts enter as 0 — the clamp never bites since
    every discount tier D_k <= k)."""
    from collections import Counter

    grams = {k: set() for k in range(2, n + 1)}
    top_c = Counter()
    vocab = set()
    for toks in docs:
        vocab.update(toks)
        for k in range(2, n + 1):
            for i in range(len(toks) - k + 1):
                grams[k].add(tuple(toks[i:i + k]))
        for i in range(len(toks) - n + 1):
            top_c[tuple(toks[i:i + n])] += 1

    def discounts(counts):
        n1 = sum(1 for c in counts if c == 1)
        n2 = sum(1 for c in counts if c == 2)
        n3 = sum(1 for c in counts if c == 3)
        n4 = sum(1 for c in counts if c == 4)
        y = n1 / (n1 + 2.0 * n2) if n1 + 2 * n2 > 0 else 0.5
        return (
            max(1.0 - 2.0 * y * n2 / n1 if n1 > 0 else 1.0, 0.0),
            max(2.0 - 3.0 * y * n3 / n2 if n2 > 0 else 2.0, 0.0),
            max(3.0 - 4.0 * y * n4 / n3 if n3 > 0 else 3.0, 0.0),
        )

    def d_of(c, d):
        return d[0] if c == 1 else (d[1] if c == 2 else d[2])

    c_pre, tbuck, n1p_pre = Counter(), {}, Counter()
    for g, c in top_c.items():
        c_pre[g[:-1]] += c
        n1p_pre[g[:-1]] += 1
        j = 0 if c == 1 else (1 if c == 2 else 2)
        tbuck.setdefault(g[:-1], [0, 0, 0])[j] += 1
    dt = discounts(list(top_c.values()))

    cc, dk, nd_m, mbuck, n_mid = {}, {}, {}, {}, {}
    for k in range(2, n):
        cck = Counter()
        for h in grams[k + 1]:
            cck[h[1:]] += 1
        cc[k] = cck
        dk[k] = discounts(list(cck.values()))
        ndm, mb, nm = Counter(), {}, Counter()
        for s, c in cck.items():
            m = s[:-1]
            ndm[m] += c
            nm[m] += 1
            j = 0 if c == 1 else (1 if c == 2 else 2)
            mb.setdefault(m, [0, 0, 0])[j] += 1
        nd_m[k], mbuck[k], n_mid[k] = ndm, mb, nm
    nd_w = Counter(b for _a, b in grams[2])
    nbt = float(len(grams[2]))

    def p(pre, w):
        prob = nd_w[w] / nbt
        for k in range(2, n):
            sk = pre[-(k - 1):] + (w,) if k > 1 else (w,)
            mk = pre[-(k - 1):]
            c = cc[k][sk]
            denom = nd_m[k][mk]
            if mode == "mkn":
                gam = (dk[k][0] * mbuck[k][mk][0]
                       + dk[k][1] * mbuck[k][mk][1]
                       + dk[k][2] * mbuck[k][mk][2]) / denom
                prob = max(c - d_of(c, dk[k]), 0.0) / denom + gam * prob
            else:
                gam = discount * n_mid[k][mk] / denom
                prob = max(c - discount, 0.0) / denom + gam * prob
        c = top_c[pre + (w,)]
        denom = c_pre[pre]
        if mode == "mkn":
            gam = (dt[0] * tbuck[pre][0] + dt[1] * tbuck[pre][1]
                   + dt[2] * tbuck[pre][2]) / denom
            prob = max(c - d_of(c, dt), 0.0) / denom + gam * prob
        else:
            gam = discount * n1p_pre[pre] / denom
            prob = max(c - discount, 0.0) / denom + gam * prob
        return prob

    return sorted(vocab), sorted(c_pre), p


@given(_lm_corpus, st.integers(min_value=2, max_value=4))
@settings(max_examples=60, deadline=None)
def test_kn_and_mkn_ladders_are_true_conditional_distributions(docs, n):
    """The interpolated-KN and modified-KN ladder formulas must form TRUE
    probability models: for every observed context, the conditional mass
    over the ENTIRE vocabulary (unobserved continuations included — they
    flow through the backoff terms) sums to exactly 1. This is the
    mathematical identity the Chen-Goodman released-mass construction
    promises (sum of discounts == gamma mass at every level, clamps
    never bite because D_k <= k); a wrong bucket, gamma denominator, or
    discount branch breaks it immediately."""
    docs = [d for d in docs if len(d) >= n]
    if not docs:
        return
    for mode in ("kn", "mkn"):
        vocab, contexts, p = _kn_ladder_prob(docs, n, mode)
        for pre in contexts:
            total = sum(p(pre, w) for w in vocab)
            assert abs(total - 1.0) < 1e-9, (mode, n, pre, total)


# -- unigram Viterbi optimality (N4/N9) ----------------------------------------

_uni_word = st.text(alphabet="abc", min_size=1, max_size=8)


@given(
    _uni_word,
    st.dictionaries(
        st.text(alphabet="abc", min_size=2, max_size=4),
        st.floats(min_value=0.1, max_value=10.0, allow_nan=False),
        max_size=12,
    ),
)
@settings(max_examples=200, deadline=None)
def test_unigram_viterbi_is_globally_optimal(w, extra):
    """_viterbi must return the GLOBAL min-cost segmentation: on words
    short enough to enumerate every composition (<= 2^7), its cost equals
    the brute-force optimum, and the pieces reconstruct the word. Chars
    get cost 1.0; random multi-char pieces get random costs."""
    from itertools import product as _product

    from dbt_meshify_spark.operators.unigram import _viterbi

    model = {ch: 1.0 for ch in "abc"}
    model.update(extra)
    L = 4
    got = _viterbi(w, model, L)
    assert "".join(got) == w
    got_cost = sum(model[p] for p in got)

    # brute force over all cut-point subsets
    best = None
    n = len(w)
    for mask in _product([0, 1], repeat=max(0, n - 1)):
        cuts = [0] + [i + 1 for i, b in enumerate(mask) if b] + [n]
        pieces = [w[a:b] for a, b in zip(cuts, cuts[1:])]
        if any(len(p) > L or p not in model for p in pieces):
            continue
        cost = sum(model[p] for p in pieces)
        if best is None or cost < best:
            best = cost
    assert best is not None
    assert abs(got_cost - best) < 1e-12


@given(
    eps=st.floats(min_value=0.05, max_value=4.0),
    bound=st.integers(min_value=5, max_value=80),
)
@settings(max_examples=60, deadline=None)
def test_geometric_noise_table_properties(eps, bound):
    """For ANY (eps, bound): the inverse-CDF table partitions the 32-bit
    space contiguously starting at 0 and ending at 2^32, bucket masses are
    symmetric (±2 units of integer rounding), unimodal with the mode at
    z=0, and adjacent masses respect the e^eps likelihood bound wherever
    rounding noise is negligible."""
    import math

    from dbt_meshify_spark.operators.privacy import geometric_noise_thresholds

    t = geometric_noise_thresholds(eps, bound)
    assert len(t) == 2 * bound + 1
    assert t[0][1] == 0 and t[-1][2] == 1 << 32
    for (z1, _, hi1), (z2, lo2, _) in zip(t, t[1:]):
        assert z2 == z1 + 1 and lo2 == hi1
    w = {z: hi - lo for z, lo, hi in t}
    for z in range(1, bound + 1):
        assert abs(w[z] - w[-z]) <= 2
        assert w[z] <= w[z - 1] + 2  # unimodal toward 0
    for z in range(0, bound):
        if w[z + 1] > 100_000:
            assert w[z] / w[z + 1] <= math.exp(eps) * 1.001


# -- model-call reader agrees with compile() ----------------------------------


_GAP = st.sampled_from(["", " ", "\n"])
_TEXT = st.sampled_from(["select a", " from ", "\n", "{ x }", "}}", "-", "é"])
_LITERAL = st.sampled_from(
    ["'a'", "'a'", '"b"', "'}}'", "'{#'", "'{% if %}'", "'é'", '"it\'s"', "0", "12"]
)
# callee -> positional argument counts and keywords that compile() accepts
_SHAPES = {
    "ref": (1, 2, ["v", "version"]),
    "source": (2, 2, []),
    "config": (0, 0, ["materialized", "unique_key"]),
    "var": (1, 2, []),
    "cents_to_dollars": (1, 2, ["scale"]),
}


@st.composite
def _call_group(draw):
    """A ``{{ call(...) }}`` group both readers accept."""
    callee = draw(st.sampled_from(sorted(_SHAPES)))
    low, high, keys = _SHAPES[callee]
    args = [draw(_LITERAL) for _ in range(draw(st.integers(low, high)))]
    if keys:
        for key in draw(st.lists(st.sampled_from(keys), max_size=2, unique=True)):
            args.append(f"{key}={draw(_LITERAL)}")
    gap = lambda: draw(_GAP)  # noqa: E731
    return (
        draw(st.sampled_from(["{{", "{{-"])) + gap() + callee + gap() + "(" + gap()
        + f",{gap()}".join(args) + gap() + ")" + gap()
        + draw(st.sampled_from(["}}", "-}}"]))
    )


# (text, replacement) edits of a template: most give one that compile()
# rejects or that the static reader must decline
_EDITS = [
    ("'a'", "007"), ("'a'", "1_000"), ("'a'", "0x1f"), ("'a'", "1.5"), ("'a'", "-1"),
    ("'a'", "x"), ("'a'", "'a\nb'"), ("'a'", "'x\\\\y'"), ("'a'", "'a',"),
    ("}}", "+}}"), ("{{", "{{+"), ("{{", "{# {{ ref('c') }} #}{{"),
    ("{{", "{% if false %}{{ ref('c') }}{% endif %}{{"),
    ("{{", "{{{"), ("ref", "réf"), ("ref", "not"), ("ref", "true"), ("ref", "ref2"),
    ("(", "(clé='a', "), ("(", "(for='a', "), ("(", "(v=1, "), (" ", "\r\n"),
    (")", ",)"), ("config(", "config('a', "),
]


def _edited(template_and_edits: tuple[str, list]) -> str:
    """The template with each edit applied at its n-th match, if any."""
    template, edits = template_and_edits
    for (old, new), n in edits:
        starts = [i for i in range(len(template)) if template.startswith(old, i)]
        if starts:
            i = starts[n % len(starts)]
            template = template[:i] + new + template[i + len(old):]
    return template


_TEMPLATE = st.tuples(
    st.lists(st.one_of(_call_group(), _TEXT), min_size=1, max_size=3).map("".join),
    st.lists(st.tuples(st.sampled_from(_EDITS), st.integers(0, 3)), min_size=1, max_size=2),
).map(_edited)
_COMPILER = JinjaCompiler(
    "p", ["{% macro cents_to_dollars(c, scale=2) %}{{ c }}/100::{{ scale }}"
          "{% endmacro %}"]
)


@given(_TEMPLATE)
@settings(max_examples=500, derandomize=True, deadline=None)
def test_static_calls_agree_with_compile(code):
    """Wherever ``static_calls`` answers, it records the refs, sources and
    config ``compile()`` records; wherever ``compile()`` raises, it
    declines."""
    c = _COMPILER
    static = c.static_calls(code)
    try:
        full = c.compile(code, "m", resolve_ref=lambda *a, **k: a[-1],
                         resolve_source=lambda s, t: t)
    except CompileError:
        assert static is None
        return
    if static is not None:
        assert (static.refs, static.sources, static.config) == (
            full.refs, full.sources, full.config
        )


# -- in-memory edit chains equal re-read chains (C1-C3) -----------------------


def _random_value(rnd, depth: int = 0):
    pick = rnd.random()
    if depth > 1 or pick < 0.4:
        return rnd.choice(["x", 1, 0, True, None, ""])
    if pick < 0.6:
        return [_random_value(rnd, depth + 1) for _ in range(rnd.randint(0, 2))]
    if pick < 0.8:
        return {rnd.choice("pq"): _random_value(rnd, depth + 1) for _ in range(rnd.randint(0, 2))}
    # a named list, possibly with a repeated or missing name
    return [{"name": rnd.choice("ab")} if rnd.random() < 0.9 else {"p": 1}
            for _ in range(rnd.randint(0, 3))]


def _random_entry(rnd, with_tables: bool):
    if rnd.random() < 0.03:
        return "not a mapping"
    entry = {"name": rnd.choice(["a", "b", "c", "a", "b", "c", 1, None])} if rnd.random() < 0.93 else {}
    for key in rnd.sample(["description", "config", "columns", "meta", "empty"], rnd.randint(0, 3)):
        entry[key] = {
            "config": lambda: rnd.choice([{"materialized": "view"}, {"x": {}, "c": {"e": False}}]),
            # mappings that look like a named list only once pruned
            "meta": lambda: rnd.choice(
                [{"o": {"name": "o"}, "e": {}}, {"x": {"name": "o"}, "e": {}}, {"k": 1}, {}]
            ),
            "empty": lambda: rnd.choice([{}, [], {"a": {}}]),
        }.get(key, lambda: _random_value(rnd))()
    if with_tables and rnd.random() < 0.8:
        entry["tables"] = [{"name": rnd.choice(["t1", "t2"])} for _ in range(rnd.randint(0, 2))]
        if rnd.random() < 0.2:
            entry["tables"] = {t["name"]: t for t in entry["tables"]}
    return entry


def _random_doc(rnd) -> dict:
    doc = {}
    for key in rnd.sample(["version", "models", "sources", "exposures", "other"], rnd.randint(0, 5)):
        if key == "version":
            doc[key] = rnd.choice([2, 2, {}])
        elif key == "other":
            doc[key] = _random_value(rnd)
        else:
            doc[key] = [_random_entry(rnd, key == "sources") for _ in range(rnd.randint(0, 4))]
    return doc


def _random_change(rnd, root: Path, files: list[str]):
    from dbt_meshify_spark.plans.changes import Change, EntityType, Operation

    path = root / rnd.choice(files)
    pick = rnd.random()
    if pick < 0.06:
        return Change(Operation.Move, EntityType.Code, "f", root / rnd.choice(files), source=path)
    if pick < 0.09:
        return Change(Operation.Remove, EntityType.Code, "f", path)
    if pick < 0.11:
        return Change(Operation.Copy, EntityType.Directory, "d", root / "copy", source=root / "m")
    entity = rnd.choice([EntityType.Model, EntityType.Source, EntityType.Exposure])
    identifier = rnd.choice(["a", "b", "c", "new"])
    if entity == EntityType.Source and rnd.random() < 0.7:
        identifier += "." + rnd.choice(["t1", "t2"])
    if rnd.random() < 0.1:
        path = root / "m" / ".." / path.relative_to(root)
    if rnd.random() < 0.35:
        return Change(Operation.Remove, entity, identifier, path)
    patch = {}
    for key in rnd.sample(["config", "columns", "meta", "name", "description"], rnd.randint(0, 3)):
        patch[key] = {
            "config": lambda: rnd.choice([{"contract": {"enforced": True}}, {"materialized": None}]),
            "columns": lambda: [{"name": rnd.choice("ab"), "data_type": rnd.choice(["int", "string"])}
                                for _ in range(rnd.randint(0, 2))],
            "meta": lambda: rnd.choice([{"o": {"email": "e"}}, {"o": None}]),
            "name": lambda: rnd.choice("abc"),
        }.get(key, lambda: _random_value(rnd))()
    return Change(rnd.choice([Operation.Update, Operation.Add]), entity, identifier, path, patch)


@given(st.integers(min_value=0, max_value=2**32))
@settings(max_examples=300, derandomize=True, deadline=None)
def test_processor_chain_equals_reread_chain(seed):
    """One ``process`` call over a change list, starting from the loaded
    documents, writes the bytes (and fails at the change) that processing
    each change alone, re-reading every file from disk, does; and it leaves
    the loaded documents as parsed."""
    import random
    import tempfile

    # a seeded generator: the shapes that matter are rare, and uniform
    # draws reach them more often than hypothesis' shrinking-biased ones
    rnd = random.Random(seed)

    from dbt_meshify_spark.plans.changes import (
        WRITE_OPTIONS,
        ChangeSet,
        ChangeSetProcessor,
        ChangeSetProcessorException,
        dump_yaml,
        load_yaml,
    )

    files = ["m/one.yml", "m/two.yml", "m/sub/three.yml"]
    docs = {f: _random_doc(rnd) for f in files[: rnd.randint(1, 3)]}
    changes = [_random_change(rnd, Path("."), files) for _ in range(rnd.randint(1, 12))]
    results = []
    with tempfile.TemporaryDirectory() as tmp:
        for run in ("chain", "reread"):
            root = Path(tmp) / run
            for f, doc in docs.items():
                (root / f).parent.mkdir(parents=True, exist_ok=True)
                (root / f).write_text(dump_yaml(doc, **WRITE_OPTIONS))
            rebased = [
                dataclasses.replace(
                    c, path=root / c.path, source=c.source and root / c.source
                )
                for c in changes
            ]
            loaded = {(root / f).resolve(): load_yaml((root / f).read_text()) for f in docs}
            before = dump_yaml(list(loaded.values()))
            processor = ChangeSetProcessor(log=lambda _m: None)
            failed = None
            try:
                if run == "chain":
                    processor.process([ChangeSet(rebased)], loaded=loaded)
                else:
                    for c in rebased:
                        processor.process([ChangeSet([c])])
            except ChangeSetProcessorException as e:
                failed = rebased.index(e.change)
            assert dump_yaml(list(loaded.values())) == before
            tree = {
                str(p.relative_to(root)): p.read_text()
                for p in sorted(root.rglob("*")) if p.is_file()
            }
            results.append((tree, failed))
    assert results[0] == results[1]
