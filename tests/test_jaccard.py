"""Jaccard join correctness: golden outputs + differential testing
(filtered == brute force), the reference's own test discipline
(SURVEY.md §5, notebook.ipynb cell 5)."""

import pytest
from pyspark.sql import functions as F

from jaccard_join_duckdb_spark import (
    QGramsTokzr,
    WhitespaceTokzr,
    jaccard_inner_join,
    jaccard_inner_join_brute_force,
    jaccard_join,
    jaccard_self_join,
    jaccard_self_join_brute_force,
)
from tests.conftest import pairs


def test_purchases_golden(purchases):
    """exam.ipynb cells 11-12: purchases, ws, set, t=0.5 → {2,6},{3,5};
    filtered path emits (3,5),(6,2), brute (2,6),(3,5)."""
    ws = WhitespaceTokzr()
    filt = jaccard_self_join(purchases, "id", "purchases", ws, 0.5)
    assert sorted(tuple(r) for r in filt.collect()) == [(3, 5), (6, 2)]
    brute = jaccard_self_join_brute_force(purchases, "id", "purchases", ws, 0.5)
    assert sorted(tuple(r) for r in brute.collect()) == [(2, 6), (3, 5)]


def test_output_column_names(purchases):
    ws = WhitespaceTokzr()
    out = jaccard_self_join(purchases, "id", "purchases", ws, 0.5, "a_", "b_")
    assert out.columns == ["a_id", "b_id"]


# One tokenizer + corpus per verification strategy of the filtered
# joins, pinned by a plan marker: bitset popcount (q-gram sets over a
# small vocabulary), compiled array-intersect (declared-distinct rows,
# bitset gate closed), and the reference's three-way join (one
# case-duplicate record makes the gate measure duplicate rows).
_STRATEGIES = {
    "bitset": lambda: QGramsTokzr(3),
    "array": lambda: WhitespaceTokzr(distinct_rows=True),
    "three_way": lambda: WhitespaceTokzr(),
}


def _strategy_inputs(monkeypatch, strategy):
    """(tokenizer, rows) for ``strategy``; rows are (id, val) pairs."""
    import jaccard_join_duckdb_spark.operators.jaccard as J

    rows = list(enumerate(_lowercase_corpus()))
    if strategy == "array":
        monkeypatch.setattr(J, "_MAX_BITSET_VOCAB", 0)
    if strategy == "three_way":
        rows.append((len(rows), "Zz zz"))
    return _STRATEGIES[strategy](), rows


def _strategy_of(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    if "bit_count" in plan:
        return "bitset"
    return "array" if "array_sort" in plan else "three_way"


@pytest.mark.parametrize("strategy", sorted(_STRATEGIES))
@pytest.mark.parametrize("t", [0.3, 0.5, 0.8])
def test_scored_self_join(spark, monkeypatch, strategy, t):
    """with_score extension: the filtered path's ``sfx+pfxOverlap-1``
    overlap is EXACT (see operators.jaccard._jaccard_score), so the
    score must bit-equal brute force's ``count(*)``-derived one on
    every common pair, and every score must sit in [t, 1] — through
    each verification strategy."""
    tok, rows = _strategy_inputs(monkeypatch, strategy)
    df = spark.createDataFrame(rows, "id long, val string")
    filt = jaccard_self_join(df, "id", "val", tok, t, with_score=True)
    assert filt.columns == ["l_id", "r_id", "jaccard"]
    assert _strategy_of(filt) == strategy
    fs = {
        tuple(sorted((r.l_id, r.r_id), key=str)): r.jaccard
        for r in filt.collect()
    }
    brute = jaccard_self_join_brute_force(
        df, "id", "val", tok, t, with_score=True
    )
    bs = {
        tuple(sorted((r.l_id, r.r_id), key=str)): r.jaccard
        for r in brute.collect()
    }
    assert fs == bs
    assert all(t <= v <= 1.0 for v in fs.values())


@pytest.mark.parametrize("strategy", sorted(_STRATEGIES))
def test_scored_inner_join(spark, monkeypatch, strategy):
    tok, rows = _strategy_inputs(monkeypatch, strategy)
    l_df = spark.createDataFrame(rows[:30], "id long, val string")
    r_df = spark.createDataFrame(
        [(i + 1000, s) for i, s in rows[30:]], "id long, val string"
    )
    filt = jaccard_inner_join(
        l_df, r_df, "id", "id", "val", "val", tok, 0.2, with_score=True,
    )
    assert set(filt.columns) == {"l_id", "r_id", "jaccard"}
    assert _strategy_of(filt) == strategy
    brute = jaccard_inner_join_brute_force(
        l_df, r_df, "id", "id", "val", "val", tok, 0.2, with_score=True,
    )
    key = lambda r: (r.l_id, r.r_id)
    fs = {key(r): r.jaccard for r in filt.collect()}
    bs = {key(r): r.jaccard for r in brute.collect()}
    # filtered ⊆ brute with identical scores on the intersection
    assert fs and set(fs) <= set(bs)
    assert all(bs[k] == v for k, v in fs.items())


@pytest.mark.parametrize("t", [0.2, 0.3, 0.5, 0.7, 0.8])
@pytest.mark.parametrize("mk_tok", [
    lambda: WhitespaceTokzr(),
    lambda: WhitespaceTokzr(return_set=False),
    lambda: QGramsTokzr(3),
])
def test_self_differential_purchases(purchases, t, mk_tok):
    tok = mk_tok()
    filt = jaccard_self_join(purchases, "id", "purchases", tok, t)
    brute = jaccard_self_join_brute_force(purchases, "id", "purchases", tok, t)
    assert pairs(filt) == pairs(brute)


@pytest.mark.parametrize("t", [0.3, 0.5, 0.8])
def test_self_interests_reference_parity(interests, t):
    """interests × QGrams(2) crosses the 1-digit/2-digit token-count
    boundary, triggering the reference's lexicographic l_id quirk
    (SURVEY.md §4.3.2): its filtered path loses recall vs brute
    force. Parity means matching the reference's filtered output
    exactly — not "fixing" it — so compare against the reference
    pipeline SQL run in DuckDB, and only assert filtered ⊆ brute."""
    import duckdb

    from jaccard_join_duckdb_spark.plans.ref_sql import self_filtered_sql
    from tests.conftest import TESTS_DIR
    import os

    tok = QGramsTokzr(2)
    filt = jaccard_self_join(interests, "id", "interests", tok, t)
    brute = jaccard_self_join_brute_force(interests, "id", "interests", tok, t)
    assert pairs(filt) <= pairs(brute)

    csv = os.path.join(TESTS_DIR, "data", "interests.csv")
    ref = duckdb.connect().execute(
        self_filtered_sql(f"'{csv}'", "id", "interests", tok, t)
    ).fetchall()
    assert pairs(filt) == {tuple(sorted((a, b), key=str)) for a, b in ref}


@pytest.mark.parametrize("t", [0.85, 0.95])
def test_self_differential_documents(documents, t):
    """sf0.001 documents (500 rows, dense token space)."""
    ws = WhitespaceTokzr()
    filt = jaccard_self_join(documents, "doc_id", "text", ws, t)
    brute = jaccard_self_join_brute_force(documents, "doc_id", "text", ws, t)
    assert pairs(filt) == pairs(brute)


@pytest.mark.parametrize("t", [0.5, 0.8])
def test_inner_differential_purchases_interests(purchases, interests, t):
    tok = QGramsTokzr(3)
    filt = jaccard_inner_join(
        purchases, interests, "id", "id", "purchases", "interests", tok, t
    )
    brute = jaccard_inner_join_brute_force(
        purchases, interests, "id", "id", "purchases", "interests", tok, t
    )
    assert pairs(filt) == pairs(brute)


@pytest.mark.parametrize("t", [0.8, 0.9])
def test_inner_differential_documents_split(documents, t):
    """Two-table path on an even/odd doc_id split (side-swap code
    path exercised with widow-bearing sides)."""
    ws = WhitespaceTokzr()
    l = documents.filter(F.col("doc_id") % 2 == 0)
    r = documents.filter(F.col("doc_id") % 2 == 1)
    filt = jaccard_inner_join(l, r, "doc_id", "doc_id", "text", "text", ws, t)
    brute = jaccard_inner_join_brute_force(
        l, r, "doc_id", "doc_id", "text", "text", ws, t
    )
    # The reference's un-ceiled prefix bounds can drop boundary pairs
    # (SURVEY.md §4.3.1); exact equality with the reference pipeline
    # itself is asserted in test_ref_parity.py.
    assert pairs(filt) <= pairs(brute)
    missed = pairs(brute) - pairs(filt)
    assert len(missed) <= max(2, len(pairs(brute)) // 100)


def test_dispatch_self_vs_inner(purchases):
    ws = WhitespaceTokzr()
    self_out = jaccard_join(purchases, None, "id", None, "purchases", None, ws, 0.5)
    assert pairs(self_out) == {(3, 5), (2, 6)}
    same = jaccard_join(purchases, purchases, "id", "id", "purchases", "purchases", ws, 0.5)
    assert pairs(same) == {(3, 5), (2, 6)}


def test_inner_column_name_quirk(purchases, interests):
    """Reference matches() names output columns R-prefix+l_key /
    S-prefix+r_key — when sides swap, names swap prefixes
    (jaccard_join.py:391)."""
    ws = WhitespaceTokzr()
    out = jaccard_inner_join(
        purchases, interests, "id", "id", "purchases", "interests", ws, 0.9
    )
    assert set(out.columns) == {"l_id", "r_id"}


@pytest.mark.parametrize("t", [0.5, 0.8])
def test_fast_verification_path_equals_generic(documents, t):
    """distinct_rows=True switches self/inner verification to the
    compiled slice+array_intersect path; on duplicate-free data it
    must be row-identical to the generic pairs×tokens join."""
    ws_generic = WhitespaceTokzr()
    ws_fast = WhitespaceTokzr(distinct_rows=True)
    assert not ws_generic.rows_distinct and ws_fast.rows_distinct
    g = jaccard_self_join(documents, "doc_id", "text", ws_generic, t)
    f = jaccard_self_join(documents, "doc_id", "text", ws_fast, t)
    assert pairs(g) == pairs(f)
    l = documents.filter(F.col("doc_id") % 2 == 0)
    r = documents.filter(F.col("doc_id") % 2 == 1)
    gi = jaccard_inner_join(l, r, "doc_id", "doc_id", "text", "text", ws_generic, t)
    fi = jaccard_inner_join(l, r, "doc_id", "doc_id", "text", "text", ws_fast, t)
    assert pairs(gi) == pairs(fi)


@pytest.mark.parametrize("t", [0.5, 0.8])
def test_bitset_verification_equals_array_path(documents, monkeypatch, t):
    """Small vocabularies verify via masked-AND+popcount bitsets; with
    the gate forced off the array-intersect fallback must produce the
    identical pair set."""
    import jaccard_join_duckdb_spark.operators.jaccard as J

    qg = QGramsTokzr(3)
    l = documents.filter(F.col("doc_id") % 2 == 0)
    r = documents.filter(F.col("doc_id") % 2 == 1)
    bit = pairs(jaccard_self_join(documents, "doc_id", "text", qg, t))
    bit_i = pairs(
        jaccard_inner_join(l, r, "doc_id", "doc_id", "text", "text", qg, t)
    )
    monkeypatch.setattr(J, "_MAX_BITSET_VOCAB", 0)
    arr = pairs(jaccard_self_join(documents, "doc_id", "text", qg, t))
    arr_i = pairs(
        jaccard_inner_join(l, r, "doc_id", "doc_id", "text", "text", qg, t)
    )
    assert bit == arr
    assert bit_i == arr_i


def test_fast_path_gating_on_case_duplicates(spark):
    """The Delimiter case-dedup quirk ("John john" → two identical
    lowercase rows) must keep the generic path by default; QGrams set
    mode guarantees distinct rows structurally."""
    assert not WhitespaceTokzr().rows_distinct
    assert QGramsTokzr(3).rows_distinct
    assert not QGramsTokzr(3, return_set=False).rows_distinct


def test_scored_rejects_bag_mode(purchases):
    """Bag-mode overlap counts duplicate token matches — not a Jaccard
    numerator (it can even exceed llen+rlen, which would divide by
    zero under ANSI) — so with_score refuses it up front."""
    tok = WhitespaceTokzr(return_set=False)
    for fn in (jaccard_self_join, jaccard_self_join_brute_force):
        with pytest.raises(ValueError, match="set semantics"):
            fn(purchases, "id", "purchases", tok, 0.5, with_score=True)


def test_scored_case_collapse_null_score(spark):
    """The dedup-before-lowercase quirk can drive the row-counted
    overlap up to llen+rlen; the score column goes NULL there (both
    engines — the oracle SQL uses nullif) instead of raising
    DIVIDE_BY_ZERO."""
    df = spark.createDataFrame(
        [(1, "A a"), (2, "a A")], "id long, val string"
    )
    rows = jaccard_self_join_brute_force(
        df, "id", "val", WhitespaceTokzr(), 0.5, with_score=True
    ).collect()
    assert [(r.l_id, r.r_id, r.jaccard) for r in rows] == [(1, 2, None)]


def test_empty_and_degenerate_corpora(spark):
    """Edge inputs must produce empty results, not errors: empty
    table, all-whitespace texts (no tokens), single document."""
    from jaccard_join_duckdb_spark import (
        WhitespaceTokzr,
        jaccard_self_join,
        jaccard_self_join_brute_force,
    )

    tok = WhitespaceTokzr()
    empty = spark.createDataFrame([], "id long, val string")
    assert jaccard_self_join(empty, "id", "val", tok, 0.5).count() == 0
    assert jaccard_self_join_brute_force(empty, "id", "val", tok, 0.5).count() == 0

    blank = spark.createDataFrame([(1, "   "), (2, "")], "id long, val string")
    assert jaccard_self_join(blank, "id", "val", tok, 0.0).count() == 0

    solo = spark.createDataFrame([(1, "only doc here")], "id long, val string")
    assert jaccard_self_join(solo, "id", "val", tok, 0.5).count() == 0


def test_verify_attach_gate_unit(documents, monkeypatch):
    """_verify_attach broadcast-gate semantics (round 9, VERDICT r8
    next #3): above the size cap OR below the benefit ratio the attach
    frame is returned UNHINTED (same object — the shuffle join stays,
    the right plan at corpus scale / on small candidate streams); caps
    and ratio resolve at call time so this very patching works; the
    doc-count probe is limit-bounded, not a full scan; and the bitset
    cap is width-aware (ADVICE r8 #1)."""
    import jaccard_join_duckdb_spark.operators.jaccard as J

    # identity above the cap, hint below it (bound omitted)
    assert J._verify_attach(documents, 6, 5) is documents
    assert J._verify_attach(documents, 0, 5) is documents  # unknown count
    assert J._verify_attach(documents, 5, 5) is not documents
    # benefit gate: a known-small candidate bound declines; a large
    # one (>= ratio * rows) accepts
    ratio = J._BROADCAST_VERIFY_MIN_RATIO
    assert J._verify_attach(documents, 5, 5, bound=5 * ratio - 1) is documents
    assert J._verify_attach(documents, 5, 5, bound=5 * ratio) is not documents
    # call-time cap resolution (default + token-level)
    monkeypatch.setattr(J, "_MAX_BROADCAST_VERIFY_DOCS", 0)
    monkeypatch.setattr(J, "_MAX_BROADCAST_VERIFY_TOKENS", 0)
    assert J._verify_attach(documents, 1) is documents
    assert J._verify_attach(documents, 1, token_level=True) is documents
    # call-time ratio resolution
    monkeypatch.setattr(J, "_MAX_BROADCAST_VERIFY_DOCS", 250_000)
    monkeypatch.setattr(J, "_BROADCAST_VERIFY_MIN_RATIO", 0)
    assert J._verify_attach(documents, 5, 5, bound=1) is not documents
    # the probe stops at cap+1 rows instead of counting the frame
    monkeypatch.setattr(J, "_MAX_BROADCAST_VERIFY_DOCS", 3)
    assert documents.count() > 4
    assert J._doc_count_probe(documents) == 4
    # width-aware bitset cap: 1-word tables keep the row cap, 64-word
    # (4096-bit) tables shrink to the byte budget / 528 B rows
    monkeypatch.setattr(J, "_MAX_BROADCAST_VERIFY_DOCS", 250_000)
    assert J._bitset_verify_cap(1) == 250_000
    assert J._bitset_verify_cap(64) == (64 << 20) // (8 * 66)
    assert J._bitset_verify_cap(64) < J._bitset_verify_cap(4)


@pytest.mark.parametrize("path", ["self", "inner"])
@pytest.mark.parametrize("tok", ["ws", "ws_fast", "qgram"])
def test_verify_attach_above_gate_fallback(documents, monkeypatch, tok, path):
    """Force the doc/token counts past the broadcast caps and pin the
    fallback: the verification attach joins revert to shuffle joins
    (strictly fewer BroadcastHashJoin nodes, strictly more
    SortMergeJoin nodes in the static plan) and the pair set is
    unchanged — the gate is a pure physical-plan decision. Covers all
    three verification paths: generic pairs×tokens (ws), compiled
    array-intersect (ws_fast), bitset (qgram) — on both joins.

    autoBroadcastJoinThreshold is disabled for the comparison: that is
    the 100 TB regime (no side clears the stats threshold), where the
    gate's hint is the ONLY broadcast source — at test scale the
    stats-based planner would otherwise broadcast everything and mask
    the gate entirely."""
    import jaccard_join_duckdb_spark.operators.jaccard as J

    spark = documents.sparkSession
    tokenizer = {
        "ws": WhitespaceTokzr(),
        "ws_fast": WhitespaceTokzr(distinct_rows=True),
        "qgram": QGramsTokzr(3),
    }[tok]

    def join(tokenizer):
        if path == "self":
            return jaccard_self_join(
                documents, "doc_id", "text", tokenizer, 0.5
            )
        l = documents.filter(F.col("doc_id") % 2 == 0)
        r = documents.filter(F.col("doc_id") % 2 == 1)
        return jaccard_inner_join(
            l, r, "doc_id", "doc_id", "text", "text", tokenizer, 0.5
        )

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def attach_joins(plan, node):
        """Plan lines where ``node`` joins on an attach key — the
        verification attaches are the only joins keyed on lid/rid
        (whole-plan broadcast counts would be polluted by the bitset
        path's tdim broadcast and by cross-test cache aliasing of the
        persisted token frames)."""
        return [
            ln
            for ln in plan.splitlines()
            if node in ln and ("[lid#" in ln or "[rid#" in ln)
        ]

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # ratio 0: force the benefit gate OPEN on this tiny corpus so
        # the gated phase actually hints (the real ratio would decline
        # sf0.001's small candidate stream — by design; no doc-count
        # floor exists since round 10)
        monkeypatch.setattr(J, "_BROADCAST_VERIFY_MIN_RATIO", 0)
        gated = join(tokenizer)
        gated_plan = plan_of(gated)
        gated_pairs = pairs(gated)

        monkeypatch.setattr(J, "_MAX_BROADCAST_VERIFY_DOCS", 0)
        monkeypatch.setattr(J, "_MAX_BROADCAST_VERIFY_TOKENS", 0)
        off = join(tokenizer)
        off_plan = plan_of(off)

        assert pairs(off) == gated_pairs
        # gate on: every attach join is broadcast, none shuffles
        assert attach_joins(gated_plan, "BroadcastHashJoin")
        assert not attach_joins(gated_plan, "SortMergeJoin")
        # gate declined: every attach join stays sort-merge
        assert attach_joins(off_plan, "SortMergeJoin")
        assert not attach_joins(off_plan, "BroadcastHashJoin")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_self_gate_stats_formula(spark):
    """Pin _gate_stats on one token table (the self join's call)
    against hand-computed values on a 3-doc corpus at t=0.5 (the gate's
    only inputs): docs from pos==1 rows, token rows from all rows, the
    candidate bound = sum over tokens of (indexing-prefix rows ×
    probing-prefix rows), and dup_rows (the exact duplicate (id, token)
    row count, gating the runtime-distinct array verification).

    Corpus: d1 "a b c", d2 "b c", d3 "c a" → df a:2 b:2 c:3; pos by
    (df, token) order. Indexing prefix (len-pos+1 >= 2·len/3): a and b
    qualify in their docs, c never. Probing prefix (len-pos+1 >=
    len/2): all but d1's c qualify. bound = a:2·2 + b:2·2 + c:0·2 = 8;
    dup_rows = 0 (set mode, no case variants).
    """
    import jaccard_join_duckdb_spark.operators.jaccard as J
    from jaccard_join_duckdb_spark import WhitespaceTokzr

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "b c"), (3, "c a")], "id long, val string"
    )
    tokens = WhitespaceTokzr().tokenize(df, "id", "val")
    tkdf = J.tokens_with_doc_freq(tokens, with_pair_key=True)

    def scalars(g):
        return g.docs[0], g.toks[0], g.bound[0][0], g.dup_rows

    assert scalars(J._gate_stats([tkdf], 0.5)) == (3, 7, 8, 0)
    # skip_dup (round 12, rows_distinct tokenizers): same gate scalars
    # without the count_distinct column; dup_rows pinned to the known 0
    assert scalars(J._gate_stats([tkdf], 0.5, skip_dup=True)) == (3, 7, 8, 0)

    dup = spark.createDataFrame(
        [(1, "A a b"), (2, "a b")], "id long, val string"
    )
    dup_tkdf = J.tokens_with_doc_freq(
        WhitespaceTokzr().tokenize(dup, "id", "val"), with_pair_key=True
    )
    # d1 tokenizes to rows a,a,b (case-collapsed duplicate) → 1 dup row
    assert J._gate_stats([dup_tkdf], 0.5).dup_rows == 1


def test_two_sided_gate_stats_formula(spark):
    """_gate_stats on two tables (the inner join's call): scalars per
    side, candidate bounds for both orientations, widow counts. Left:
    the 3-doc table of test_self_gate_stats_formula; right: its d3
    rows alone (same df column). Per token, indexing rows a / probing
    rows b — left a = a:2 b:2 c:0, b = a:2 b:2 c:2; right (d3 "c a",
    pos a=1 c=2) a = a:1, b = a:1 c:1. bound[l][r] = a:2·1 + c:0·1 = 2,
    bound[r][l] = a:1·2 = 2, bound[l][l] = 8, bound[r][r] = 1.
    ``widow_df`` marks the df of one-sided tokens; passing 2 marks a
    and b, so widows = indexing rows of a and b: left 4, right 1."""
    import jaccard_join_duckdb_spark.operators.jaccard as J
    from jaccard_join_duckdb_spark import WhitespaceTokzr

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "b c"), (3, "c a")], "id long, val string"
    )
    tkdf = J.tokens_with_doc_freq(WhitespaceTokzr().tokenize(df, "id", "val"))
    g = J._gate_stats([tkdf, tkdf.filter("id = 3")], 0.5, widow_df=2)
    assert (g.docs, g.toks, g.widows) == ((3, 1), (7, 2), (4, 1))
    assert g.bound == ((8, 2), (2, 1))
    assert g.dup_rows == 0


def _lowercase_corpus(n_docs=60, max_words=12, seed=11):
    """Deterministic lowercase corpus: repeated word PICKS across a
    small vocab create overlap, but set-mode tokenize dedups within a
    value and no case variants exist — so (id, token) rows are
    runtime-distinct even though WhitespaceTokzr cannot promise it."""
    import random

    rng = random.Random(seed)
    vocab = ["ha", "be", "ce", "dx", "ee", "fo", "gg", "hi", "jo", "ku"]
    return [
        " ".join(
            rng.choice(vocab) for _ in range(rng.randint(2, max_words))
        )
        for _ in range(n_docs)
    ]


def _dup_corpus(n_docs=60, max_words=12, seed=11):
    """Mixed-case twin of _lowercase_corpus: case-variant picks make
    the Delimiter dedup-before-lowercase quirk emit duplicate rows."""
    base = _lowercase_corpus(n_docs, max_words, seed)
    return [s.replace("ha", "Ha", 1).replace("be", "BE", 1) + " ku KU"
            for s in base]


@pytest.mark.parametrize("t", [0.2, 0.5, 0.8])
def test_runtime_distinct_array_verify_self(spark, monkeypatch, t):
    """Runtime-distinct detection (round 11): on a corpus the
    gate-stats job measures as duplicate-free, a tokenizer that cannot
    PROMISE distinct rows must still get the compiled array verify —
    and its rows must equal the generic three-way join's (forced via
    the _RUNTIME_DISTINCT_ARRAY flag). Plans pinned different: the
    engaged path builds pos-ordered arrays (array_sort)."""
    import jaccard_join_duckdb_spark.operators.jaccard as J

    texts = _lowercase_corpus()
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "id long, val string"
    )
    tok = WhitespaceTokzr()
    assert not tok.rows_distinct
    fast = jaccard_self_join(df, "id", "val", tok, t)
    fast_plan = fast._jdf.queryExecution().optimizedPlan().toString()
    assert "array_sort" in fast_plan
    with monkeypatch.context() as m:
        m.setattr(J, "_RUNTIME_DISTINCT_ARRAY", False)
        slow = jaccard_self_join(df, "id", "val", tok, t)
        slow_plan = slow._jdf.queryExecution().optimizedPlan().toString()
        assert "array_sort" not in slow_plan
        assert pairs(fast) == pairs(slow)


@pytest.mark.parametrize("return_set", [True, False], ids=["quirk", "bag"])
def test_duplicate_rows_keep_three_way_self(spark, return_set):
    """Corpora that DO carry duplicate (id, token) rows — the
    case-collapse quirk in set mode, true repeats in bag mode — must
    keep the reference's three-way verification (the set-intersect
    array path would undercount a×b row pairs as min(a,b)); the
    duplicate-row counter must see them. Result correctness on such
    corpora is pinned by the reference-oracle fuzz suite
    (test_property_fuzz: ws-bag, delim arms)."""
    texts = _dup_corpus()
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "id long, val string"
    )
    tok = WhitespaceTokzr(return_set=return_set)
    out = jaccard_self_join(df, "id", "val", tok, 0.5)
    assert "array_sort" not in (
        out._jdf.queryExecution().optimizedPlan().toString()
    )
    out.count()  # and it still executes


@pytest.mark.parametrize("t", [0.2, 0.5])
def test_runtime_distinct_array_verify_inner(spark, monkeypatch, t):
    """Inner-join twin of the runtime-distinct equality pin, on the
    side-swapped two-table path (per-side duplicate counters)."""
    import jaccard_join_duckdb_spark.operators.jaccard as J

    texts = _lowercase_corpus(n_docs=80, seed=17)
    l_df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts[:40])], "id long, val string"
    )
    r_df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts[40:])], "id long, val string"
    )
    tok = WhitespaceTokzr()
    fast = jaccard_inner_join(l_df, r_df, "id", "id", "val", "val", tok, t)
    assert "array_sort" in fast._jdf.queryExecution().optimizedPlan().toString()
    with monkeypatch.context() as m:
        m.setattr(J, "_RUNTIME_DISTINCT_ARRAY", False)
        slow = jaccard_inner_join(
            l_df, r_df, "id", "id", "val", "val", tok, t
        )
        assert "array_sort" not in (
            slow._jdf.queryExecution().optimizedPlan().toString()
        )
        assert sorted(
            tuple(r) for r in fast.collect()
        ) == sorted(tuple(r) for r in slow.collect())


def test_inner_one_side_duplicates_keep_three_way(spark):
    """A single duplicate-carrying side must veto the array verify for
    the whole inner join (dup counts are summed across sides)."""
    l_df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(_dup_corpus(n_docs=20))],
        "id long, val string",
    )
    r_df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(_lowercase_corpus(n_docs=20))],
        "id long, val string",
    )
    out = jaccard_inner_join(
        l_df, r_df, "id", "id", "val", "val", WhitespaceTokzr(), 0.5
    )
    assert "array_sort" not in (
        out._jdf.queryExecution().optimizedPlan().toString()
    )


def test_auto_hot_threshold_unit():
    """Pin the auto heavy-hitter engagement math: absolute df floor,
    skew factor vs average-partition rows, threshold = 2x the average
    (floored, capped at max_df so an engaged split is never empty)."""
    import jaccard_join_duckdb_spark.operators.jaccard as J

    # under the absolute floor: never engage, however skewed
    assert J._auto_hot_threshold(1_000, 900, 32) is None
    # hot but under FACTOR x avg-partition rows (local-P regime: one
    # stopword is a small multiple of huge partitions -> no straggler)
    assert J._auto_hot_threshold(10**9, 60_000, 32) is None
    # cluster-P regime: avg = 100 rows/partition, max_df 600x that
    thr = J._auto_hot_threshold(1_000_000, 60_000, 10_000)
    assert thr == max(200, J._HOT_SPLIT_MIN_THR) == 1_000
    # threshold floor applies even at extreme P (hot set stays small)
    assert J._auto_hot_threshold(1_000_000, 50_000, 100_000) == 1_000
    # the max_df cap guards patched/extreme constants: an engaged
    # split always has a non-empty hot set
    import unittest.mock as mock
    with mock.patch.object(J, "_HOT_SPLIT_MIN_DF", 10), \
            mock.patch.object(J, "_HOT_SPLIT_MIN_THR", 10_000):
        assert J._auto_hot_threshold(1_000_000, 900, 10_000) == 900


def test_hot_threshold_kwarg_validated_up_front(spark):
    """ADVICE r10: a string other than 'auto' (e.g. the typo 'Auto')
    must raise a clear ValueError at the API boundary, not a cryptic
    int() failure deep in plan construction."""
    from jaccard_join_duckdb_spark import WhitespaceTokzr
    from jaccard_join_duckdb_spark.operators.jaccard import (
        jaccard_inner_join,
        jaccard_self_join,
        tokens_with_doc_freq,
    )

    df = spark.createDataFrame([(1, "a b")], ["id", "val"])
    tok = WhitespaceTokzr()
    with pytest.raises(ValueError, match="hot_df_threshold"):
        jaccard_self_join(df, "id", "val", tok, 0.5,
                          hot_df_threshold="Auto")
    with pytest.raises(ValueError, match="hot_df_threshold"):
        jaccard_inner_join(df, df, "id", "id", "val", "val", tok, 0.5,
                           hot_df_threshold="AUTO")
    with pytest.raises(ValueError, match="hot_df_threshold"):
        tokens_with_doc_freq(tok.tokenize(df, "id", "val"),
                             hot_df_threshold="50")
    # ints and None still accepted (plan builds lazily, no raise)
    jaccard_self_join(df, "id", "val", tok, 0.5, hot_df_threshold=None)
    jaccard_self_join(df, "id", "val", tok, 0.5, hot_df_threshold=10)


@pytest.mark.parametrize("path", ["self", "inner"])
def test_auto_hot_split_engages_on_skew(spark, monkeypatch, path):
    """DEFAULT-path plan shape on a skewed corpus (VERDICT r9 #4): with
    hot_df_threshold='auto' (the default) and the engagement constants
    scaled to test size, the tkdf build join splits — the broadcast
    anti-join (LeftAnti) appears in the plan — and the pair set is
    identical to the split-disabled run. Covers both the self and the
    inner (per-side dfreq) paths."""
    import jaccard_join_duckdb_spark.operators.jaccard as J
    from jaccard_join_duckdb_spark import WhitespaceTokzr

    monkeypatch.setattr(J, "_HOT_SPLIT_MIN_DF", 5)
    monkeypatch.setattr(J, "_HOT_SPLIT_SKEW_FACTOR", 0.001)
    monkeypatch.setattr(J, "_HOT_SPLIT_MIN_THR", 5)

    # every doc shares one hot token; tails are near-unique
    docs = spark.createDataFrame(
        [(i, f"hot u{i} v{i} w{i % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    tok = WhitespaceTokzr()  # bag mode: non-bitset, non-array path

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def pairs(df):
        return sorted(map(tuple, df.collect()))

    if path == "self":
        auto = J.jaccard_self_join(docs, "doc_id", "text", tok, 0.3)
        off = J.jaccard_self_join(
            docs, "doc_id", "text", tok, 0.3, hot_df_threshold=None
        )
    else:
        l, r = docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
        auto = J.jaccard_inner_join(
            l, r, "doc_id", "doc_id", "text", "text", tok, 0.3
        )
        off = J.jaccard_inner_join(
            l, r, "doc_id", "doc_id", "text", "text", tok, 0.3,
            hot_df_threshold=None,
        )
    assert "LeftAnti" in plan_of(auto)
    assert "LeftAnti" not in plan_of(off)
    assert pairs(auto) == pairs(off)
    assert pairs(auto)  # non-degenerate corpus: the hot token pairs up
