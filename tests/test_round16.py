"""Round-16 additions: ADVICE closures (times keyword-only, quantile
oracle empty-input alignment) and the GroupPattern INNER counting
quantifier lift (GroupPattern.java:30/33 — the group body is a full
Pattern; NFACompiler compiles groups recursively, so inner states can
themselves be loops). Property suites compare the state-counted NFA
against independent brute-force chain models, directly on the pure
_scan core (no Spark needed), the tests/test_cep_group_props.py
discipline."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from proteus_engine_spark.streaming.cep import GroupPattern, Pattern

from tests.conftest import cep_scan

# alphabet: 0 = 'a', 1 = 'b', 2 = noise
SEQ = st.lists(st.integers(min_value=0, max_value=2), max_size=18)


# ---------------------------------------------------------------------------
# ADVICE closures
# ---------------------------------------------------------------------------

def test_times_to_keyword_only():
    """r15 advice: `to` took the positional slot `consecutive` held before
    the range overload existed — a legacy positional times(n, True) must
    raise, never be silently reinterpreted as times(n, to=1)."""
    p = Pattern.begin("a", lambda r: True)
    with pytest.raises(TypeError):
        p.times(1, True)  # noqa — the legacy positional shape under test
    with pytest.raises(TypeError):
        p.times(2, 3)  # range must be spelled to=
    p.times(2, to=3)  # keyword spelling works
    p.times(1, consecutive=True)


def test_quantile_oracle_empty_alignment():
    """r15 advice: the registered agg_approx_quantile_bounds oracle must
    return 0 rows over an empty/all-NULL slice, matching the engine
    behavior pinned in test_quantile_sketch_bounds_empty_input."""
    import duckdb

    from proteus_engine_spark.queries import oracles

    sql = oracles()["agg_approx_quantile_bounds"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        "(1, TIMESTAMP '2024-01-01', 'click', CAST(NULL AS DOUBLE), 1)"
        ") t(user_id, ts, event_type, value, event_id) WHERE FALSE"
    )
    assert con.execute(sql).fetchall() == []
    con.close()

    con = duckdb.connect()  # all-NULL values, nonzero rows
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        "(1, TIMESTAMP '2024-01-01', 'click', CAST(NULL AS DOUBLE), 1),"
        "(2, TIMESTAMP '2024-01-02', 'view',  CAST(NULL AS DOUBLE), 2)"
        ") t(user_id, ts, event_type, value, event_id)"
    )
    assert con.execute(sql).fetchall() == []
    con.close()


def test_group_consecutive_disables_prefilter():
    """group_between_strict (GroupPattern.consecutive()) must disable the
    relaxed-contiguity prefilter pushdown: strict chaining BETWEEN repeats
    has to see every row."""
    sub = Pattern.begin(
        "a", lambda r: r["et"] == 0, expr="et = 0"
    ).followed_by("b", lambda r: r["et"] == 1, expr="et = 1")
    relaxed, _ = GroupPattern.begin(sub).times(2).compile()
    assert relaxed.prefilter_expr() is not None
    strict, _ = GroupPattern.begin(sub).times(2).consecutive().compile()
    assert strict.prefilter_expr() is None


# ---------------------------------------------------------------------------
# Inner counting quantifiers in groups — brute-force property model
# ---------------------------------------------------------------------------
#
# Group body: a{inner quantifier} followedBy b, all relaxed. Consume-first
# NFA model per ANCHOR 'a' at index i (every 'a' opens a partial):
#   - the inner loop consumes successive 'a's starting AT the anchor
#     (relaxed repeats skip non-matching events);
#   - an inner exit at count c hands off to 'b', which consumes the FIRST
#     'b' after the c-th consumed 'a';
#   - a group loop-back consumes the FIRST 'a' strictly after that 'b' as
#     the next repeat's first inner event (relaxed between-repeat rule).
# Matches carry (last repeat's last a, inner count, last repeat's b,
# group depth).


def _inner_sub(iq):
    p = Pattern.begin("a", lambda r: r["et"] == 0)
    kind = iq[0]
    if kind == "times":
        p = p.times(iq[1], to=iq[2] if len(iq) > 2 else None)
    elif kind == "oom":
        p = p.one_or_more()
    return p.followed_by("b", lambda r: r["et"] == 1)


def _brute(types, iq, floor, cap):
    """All (a_last, icnt, b, depth) match tuples: recursive enumeration of
    the consume-first chain with per-branch inner exits. floor/cap encode
    the GROUP quantifier (exact n -> floor=n cap=n; one_or_more cap=C ->
    floor=None cap=C; range (n, to) -> floor=n cap=to)."""
    out = []

    def inner_counts(n_run):
        kind = iq[0]
        if kind == "times":
            lo = iq[1]
            hi = iq[2] if len(iq) > 2 else iq[1]
            return range(lo, min(hi, n_run) + 1)
        return range(1, n_run + 1)  # one_or_more

    def rec(start, depth, anchored):
        a_idxs = [j for j in range(start, len(types)) if types[j] == 0]
        if not a_idxs:
            return
        # anchor repeats start at EVERY 'a' (each opens its own partial);
        # loop-back repeats start at the FIRST 'a' only
        starts = range(len(a_idxs)) if anchored else [0]
        for s in starts:
            run = a_idxs[s:]
            for c in inner_counts(len(run)):
                a_c = run[c - 1]
                b = next(
                    (k for k in range(a_c + 1, len(types)) if types[k] == 1),
                    None,
                )
                if b is None:
                    continue
                d = depth + 1
                if floor is None or d >= floor:
                    out.append((a_c, c, b, d))
                if cap is None or d < cap:
                    rec(b + 1, d, False)

    rec(0, 0, True)
    return sorted(out)


def _got(gp, types):
    return sorted(
        (m["a"][0], m["a"][2], m["b"][0], m["__gcnt__0"])
        for m in cep_scan(gp, types)
    )


@given(seq=SEQ, k=st.integers(min_value=1, max_value=3),
       n=st.integers(min_value=1, max_value=3))
@settings(max_examples=150, deadline=None)
def test_inner_times_group_times(seq, k, n):
    """(a.times(k) -> b).times(n): deterministic inner consumption nested
    under the exact group count."""
    gp = GroupPattern.begin(_inner_sub(("times", k))).times(n)
    assert _got(gp, seq) == _brute(seq, ("times", k), n, n)


@given(seq=SEQ, k=st.integers(min_value=1, max_value=3),
       cap=st.integers(min_value=1, max_value=3))
@settings(max_examples=150, deadline=None)
def test_inner_times_group_one_or_more(seq, k, cap):
    """(a.times(k) -> b).one_or_more(max_repeats=cap): per-prefix group
    exits, inner loop restarting each repeat."""
    gp = GroupPattern.begin(_inner_sub(("times", k))).one_or_more(max_repeats=cap)
    assert _got(gp, seq) == _brute(seq, ("times", k), None, cap)


@given(seq=st.lists(st.integers(min_value=0, max_value=2), max_size=12),
       n=st.integers(min_value=1, max_value=2))
@settings(max_examples=150, deadline=None)
def test_inner_one_or_more_group_times(seq, n):
    """(a.one_or_more() -> b).times(n): branching inner exits (one per
    inner prefix) nested under the exact group count — the fully
    recursive case."""
    gp = GroupPattern.begin(_inner_sub(("oom",))).times(n)
    assert _got(gp, seq) == _brute(seq, ("oom",), n, n)


@given(seq=SEQ, lo=st.integers(min_value=1, max_value=2),
       extra=st.integers(min_value=0, max_value=2))
@settings(max_examples=150, deadline=None)
def test_inner_times_range_group_times(seq, lo, extra):
    """(a.times(lo, to=hi) -> b).times(2): inner RANGE exits per count in
    [lo, hi], nested under the group count."""
    hi = lo + extra
    gp = GroupPattern.begin(_inner_sub(("times", lo, hi))).times(2)
    assert _got(gp, seq) == _brute(seq, ("times", lo, hi), 2, 2)


def test_inner_quantifier_schema_has_icnt():
    """A quantified inner step adds {name}_icnt (inner count within the
    last group repeat) next to {name}_cnt (group count)."""
    from proteus_engine_spark.streaming.cep import _match_columns

    pat, eff = GroupPattern.begin(_inner_sub(("times", 2))).times(2).compile()
    assert eff == {0: -1}
    assert _match_columns(pat) == [
        "a_id", "a_ts", "a_cnt", "a_icnt", "b_id", "b_ts", "b_cnt",
    ]


def test_inner_quantifier_exact_values():
    """Pinned example: seq a a b a a b — (a.times(2) -> b).times(2)
    anchored at a0 consumes a0,a1,b2 then a3,a4,b5; the second anchor (a1)
    lacks a second repeat; later anchors lack inner pairs."""
    gp = GroupPattern.begin(_inner_sub(("times", 2))).times(2)
    got = _got(gp, [0, 0, 1, 0, 0, 1])
    assert got == [(4, 2, 5, 2)]


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup (multimodal_phash_neardup machinery)
# ---------------------------------------------------------------------------

def _dhash_py(payload: bytes, bits: int = 60, w: int = 4) -> int:
    """Independent dHash model: fixed-width blocks, bit = gradient."""
    sums = [sum(payload[i * w:(i + 1) * w]) for i in range(bits + 1)]
    h = 0
    for i in range(bits):
        if sums[i] > sums[i + 1]:
            h |= 1 << i
    return h


@given(
    hashes=st.lists(
        st.integers(min_value=0, max_value=(1 << 60) - 1),
        min_size=2, max_size=12, unique=True,
    )
)
@settings(max_examples=200, deadline=None)
def test_phash_banding_exactness(hashes):
    """Pigeonhole theorem behind phash_near_dup_pairs: with 4 bands and
    max_distance 3, the band-bucket candidate set contains EVERY pair at
    Hamming distance <= 3 — banding is exact, not approximate."""
    def bands(h):
        return {(b, (h >> (15 * b)) & 32767) for b in range(4)}

    for i, a in enumerate(hashes):
        for b in hashes[i + 1:]:
            d = bin(a ^ b).count("1")
            if d <= 3:
                assert bands(a) & bands(b), (a, b, d)


def test_phash_validation():
    from proteus_engine_spark.datapipe.multimodal import (
        phash_cross_dup_ids,
        phash_near_dup_pairs,
    )

    with pytest.raises(ValueError, match="max_distance < bands"):
        phash_near_dup_pairs(None, max_distance=4, bands=4)
    with pytest.raises(ValueError, match="divide evenly"):
        phash_near_dup_pairs(None, max_distance=2, bands=7)
    with pytest.raises(ValueError, match="max_distance < bands"):
        phash_cross_dup_ids(None, None, max_distance=4, bands=4)
    with pytest.raises(ValueError, match="divide evenly"):
        phash_cross_dup_ids(None, None, max_distance=2, bands=7)


def test_phash_near_dup_spark_matches_brute_force(spark):
    """End-to-end on synthetic payloads with planted near-dups: the
    Spark mapInPandas dHash + banded pair join equals the quadratic
    all-pairs Python model (exactness of banding + hash parity)."""
    from proteus_engine_spark.datapipe.multimodal import (
        perceptual_hash,
        phash_near_dup_pairs,
    )

    base = bytes(range(200)) * 2
    payloads = {
        1: base,
        2: base + b"xyz",          # tail append: near-dup of 1
        3: base[:150] + b"Q" + base[151:],  # single-byte edit
        4: bytes(reversed(base)),  # far
        5: b"",                    # empty payload
        6: base,                   # exact dup of 1
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in payloads.items()], "media_id long, payload binary"
    )
    got = sorted(
        (r.media_id_a, r.media_id_b, r.hamming)
        for r in phash_near_dup_pairs(perceptual_hash(df)).collect()
    )
    hs = {k: _dhash_py(v) for k, v in payloads.items()}
    ids = sorted(hs)
    exp = sorted(
        (a, b, bin(hs[a] ^ hs[b]).count("1"))
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if bin(hs[a] ^ hs[b]).count("1") <= 3
    )
    assert got == exp
    assert (1, 6, 0) in got          # exact dup found at distance 0
    assert any(a == 1 and b == 2 for a, b, _ in got)  # tail append caught


# ---------------------------------------------------------------------------
# Quantile sketch merge
# ---------------------------------------------------------------------------

def test_quantile_merge_bounds(spark):
    """Disjoint halves merged through percentile_approx partials: verdict
    uniformly true, and the side counts partition the total exactly."""
    import os

    from pyspark.sql import functions as F

    from proteus_engine_spark.datapipe.sketches import quantile_sketch_merge_bounds

    sf = os.environ.get("PROTEUS_TEST_SF_DIR", "/root/testdata/sf0.001")
    ev = spark.read.parquet(f"{sf}/events.parquet")
    out = quantile_sketch_merge_bounds(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        "value",
    ).collect()
    assert len(out) == 6
    assert all(r.within_bounds for r in out)
    assert all(r.n == r.n_left + r.n_right for r in out)
    assert all(r.n_left > 0 and r.n_right > 0 for r in out)


def test_quantile_merge_empty(spark):
    from pyspark.sql import functions as F

    from proteus_engine_spark.datapipe.sketches import quantile_sketch_merge_bounds

    empty = spark.createDataFrame([], "value double")
    out = quantile_sketch_merge_bounds(empty, empty, "value").collect()
    assert out == []


@given(seq=SEQ, k=st.integers(min_value=1, max_value=2))
@settings(max_examples=100, deadline=None)
def test_inner_times_or_more_group_times(seq, k):
    """(a.times_or_more(k) -> b).times(2): unbounded inner loop with a
    floor, per-prefix inner exits at counts >= k, nested under the exact
    group count — shares the one_or_more code path with a floor."""
    sub = Pattern.begin("a", lambda r: r["et"] == 0).times_or_more(k) \
        .followed_by("b", lambda r: r["et"] == 1)
    gp = GroupPattern.begin(sub).times(2)

    def brute(types):
        out = []

        def rec(start, depth, anchored):
            a_idxs = [j for j in range(start, len(types)) if types[j] == 0]
            if not a_idxs:
                return
            for s in (range(len(a_idxs)) if anchored else [0]):
                run = a_idxs[s:]
                for c in range(k, len(run) + 1):
                    a_c = run[c - 1]
                    b = next((x for x in range(a_c + 1, len(types))
                              if types[x] == 1), None)
                    if b is None:
                        continue
                    d = depth + 1
                    if d == 2:
                        out.append((a_c, c, b, d))
                    if d < 2:
                        rec(b + 1, d, False)

        rec(0, 0, True)
        return sorted(out)

    assert _got(gp, seq) == brute(seq)


def test_quantile_grouped_bounds(spark):
    """Per-group sketches: one verdict row per (group, q), all true, and
    per-group n matches the exact group sizes."""
    import os

    from proteus_engine_spark.datapipe.sketches import (
        quantile_sketch_bounds_grouped,
    )

    sf = os.environ.get("PROTEUS_TEST_SF_DIR", "/root/testdata/sf0.001")
    ev = spark.read.parquet(f"{sf}/events.parquet")
    out = quantile_sketch_bounds_grouped(ev, "value", "event_type").collect()
    groups = {r.event_type for r in out}
    assert len(out) == 3 * len(groups)
    assert all(r.within_bounds for r in out)
    exact = {
        r.event_type: r.n
        for r in ev.filter("value IS NOT NULL")
        .groupBy("event_type").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert all(r.n == exact[r.event_type] for r in out)


def test_quantile_grouped_bounds_empty(spark):
    from proteus_engine_spark.datapipe.sketches import (
        quantile_sketch_bounds_grouped,
    )

    empty = spark.createDataFrame([], "g string, value double")
    assert quantile_sketch_bounds_grouped(empty, "value", "g").collect() == []


@given(seq=st.lists(st.integers(min_value=0, max_value=3), max_size=14),
       n=st.integers(min_value=1, max_value=2))
@settings(max_examples=150, deadline=None)
def test_inner_optional_group_times(seq, n):
    """(a -> o? -> b).times(n) with an INTERIOR optional inner step:
    fork-on-entry each repeat (take: first 'o' after a then first 'b'
    after o; skip: first 'b' after a), entries cleared on loop-back so a
    skipping LAST repeat reports NULL o columns. Alphabet: 0='a', 1='b',
    2='o', 3=noise."""
    sub = (
        Pattern.begin("a", lambda r: r["et"] == 0)
        .followed_by("o", lambda r: r["et"] == 2).optional()
        .followed_by("b", lambda r: r["et"] == 1)
    )
    gp = GroupPattern.begin(sub).times(n)
    got = sorted(
        (
            (m["a"][0], m["o"][0] if m.get("o") else None,
             m["b"][0], m["__gcnt__0"])
            for m in cep_scan(gp, seq)
        ),
        key=repr,
    )

    def first(et, after):
        return next((j for j in range(after, len(seq)) if seq[j] == et), None)

    out = []

    def rec(start, depth, anchored):
        a_idxs = [j for j in range(start, len(seq)) if seq[j] == 0]
        starts = a_idxs if anchored else a_idxs[:1]
        for a in starts:
            variants = []
            o = first(2, a + 1)
            if o is not None:
                b = first(1, o + 1)
                if b is not None:
                    variants.append((o, b))
            b = first(1, a + 1)
            if b is not None:
                variants.append((None, b))
            for o_idx, b_idx in variants:
                d = depth + 1
                if d == n:
                    out.append((a, o_idx, b_idx, d))
                if d < n:
                    rec(b_idx + 1, d, False)

    rec(0, 0, True)
    assert got == sorted(out, key=repr)


def test_inner_optional_last_step_compiles():
    """r16 rejected optional on a quantified item's LAST step; since r17
    the skip twin routes through exit_step and the placement is legal —
    property-tested in tests/test_round17.py (tail-optional suites)."""
    sub = (
        Pattern.begin("a", lambda r: r["et"] == 0)
        .followed_by("o", lambda r: r["et"] == 2).optional()
    )
    pat, eff = GroupPattern.begin(sub).times(2).compile()
    assert eff == {0: -1}
    assert pat.steps[-1].quantifier == "optional"
    assert pat.steps[-1].group_loop_to is not None


def test_inner_optional_stale_entry_cleared():
    """Pinned example: repeat 1 takes o, repeat 2 skips it — the match
    must report NULL o, not repeat 1's leftover event.
    seq: a o b a b  -> (a0,o1,b2) then (a3,-,b4): o is None at depth 2."""
    sub = (
        Pattern.begin("a", lambda r: r["et"] == 0)
        .followed_by("o", lambda r: r["et"] == 2).optional()
        .followed_by("b", lambda r: r["et"] == 1)
    )
    gp = GroupPattern.begin(sub).times(2)
    ms = cep_scan(gp, [0, 2, 1, 0, 1])
    # anchored at a0: repeat1 takes o (a0,o1,b2) or skips (a0,-,b2);
    # both continue (a3,?,b4) with no 'o' left -> o must be absent
    assert len(ms) == 2
    assert all("o" not in m or m["o"] is None for m in ms)
    assert all(m["a"][0] == 3 and m["b"][0] == 4 for m in ms)


@given(seq=SEQ, k=st.integers(min_value=1, max_value=3))
@settings(max_examples=150, deadline=None)
def test_inner_times_consecutive_group_times(seq, k):
    """(a.times(k, consecutive=True) -> b).times(2): the k inner events
    must be ADJACENT; a non-'a' mid-run kills the partial (first repeat
    event still attaches relaxed)."""
    sub = Pattern.begin("a", lambda r: r["et"] == 0) \
        .times(k, consecutive=True) \
        .followed_by("b", lambda r: r["et"] == 1)
    gp = GroupPattern.begin(sub).times(2)

    def one(start, anchored):
        """(last_a, b, next_start) repeats from start; anchor = exact."""
        res = []
        a_first = [j for j in range(start, len(seq)) if seq[j] == 0]
        starts = a_first if anchored else a_first[:1]
        for a0 in starts:
            # k adjacent a's beginning at a0
            if a0 + k > len(seq) or any(seq[a0 + i] != 0 for i in range(k)):
                continue
            a_last = a0 + k - 1
            b = next((x for x in range(a_last + 1, len(seq)) if seq[x] == 1), None)
            if b is not None:
                res.append((a0, a_last, b))
        return res

    out = []
    for a0, a1, b1 in one(0, True):
        for _, a2, b2 in one(b1 + 1, False):
            out.append((a2, k, b2, 2))
    got = sorted(
        (m["a"][0], m["a"][2], m["b"][0], m["__gcnt__0"])
        for m in cep_scan(gp, seq)
    )
    assert got == sorted(out)


def test_phash_cross_dup_bipartite(spark):
    """Bipartite banding: batch ids with a corpus neighbor at Hamming<=3;
    batch-batch near-dups must NOT match (bipartite, not self-join)."""
    from proteus_engine_spark.datapipe.multimodal import (
        perceptual_hash,
        phash_cross_dup_ids,
    )

    base = bytes(range(200)) * 2
    batch = spark.createDataFrame(
        [(1, base), (2, base + b"zz"), (3, bytes(reversed(base)))],
        "media_id long, payload binary",
    )
    corpus = spark.createDataFrame(
        [(10, base)], "media_id long, payload binary"
    )
    got = sorted(
        r.media_id
        for r in phash_cross_dup_ids(
            perceptual_hash(batch), perceptual_hash(corpus)
        ).collect()
    )
    # 1 matches corpus exactly; 2 is a tail-append near-dup of it; 3 far.
    # 1~2 batch-batch similarity must not produce a match by itself.
    hs = {k: _dhash_py(v) for k, v in
          {1: base, 2: base + b"zz", 3: bytes(reversed(base)), 10: base}.items()}
    exp = sorted(
        b for b in (1, 2, 3)
        if bin(hs[b] ^ hs[10]).count("1") <= 3
    )
    assert got == exp and 1 in got


# ---------------------------------------------------------------------------
# Interior negation in groups
# ---------------------------------------------------------------------------

@given(seq=st.lists(st.integers(min_value=0, max_value=3), max_size=14),
       n=st.integers(min_value=1, max_value=2))
@settings(max_examples=150, deadline=None)
def test_inner_not_followed_by_group_times(seq, n):
    """(a ¬x b).times(n): per repeat, the first 'b' after 'a' is consumed
    ONLY if no 'x' occurs between them — an 'x' first kills that repeat's
    partial. Alphabet: 0='a', 1='b', 2='x', 3=noise."""
    sub = (
        Pattern.begin("a", lambda r: r["et"] == 0)
        .not_followed_by("x", lambda r: r["et"] == 2)
        .followed_by("b", lambda r: r["et"] == 1)
    )
    gp = GroupPattern.begin(sub).times(n)
    got = sorted(
        (m["a"][0], m["b"][0], m["__gcnt__0"]) for m in cep_scan(gp, seq)
    )

    def repeat_from(a):
        """first 'b' after a, unless an 'x' comes first."""
        for j in range(a + 1, len(seq)):
            if seq[j] == 2:
                return None
            if seq[j] == 1:
                return j
        return None

    out = []

    def rec(start, depth, anchored):
        a_idxs = [j for j in range(start, len(seq)) if seq[j] == 0]
        for a in (a_idxs if anchored else a_idxs[:1]):
            b = repeat_from(a)
            if b is None:
                continue
            d = depth + 1
            if d == n:
                out.append((a, b, d))
            else:
                rec(b + 1, d, False)

    rec(0, 0, True)
    assert got == sorted(out)


@given(seq=st.lists(st.integers(min_value=0, max_value=3), max_size=14))
@settings(max_examples=150, deadline=None)
def test_inner_not_next_group_times(seq):
    """(a ¬next-x b).times(2): only the event IMMEDIATELY after 'a' is
    guarded — it must not be 'x', and 'b' then consumes the first 'b'
    from that event on (relaxed)."""
    sub = (
        Pattern.begin("a", lambda r: r["et"] == 0)
        .not_next("x", lambda r: r["et"] == 2)
        .followed_by("b", lambda r: r["et"] == 1)
    )
    gp = GroupPattern.begin(sub).times(2)
    got = sorted(
        (m["a"][0], m["b"][0], m["__gcnt__0"]) for m in cep_scan(gp, seq)
    )

    def repeat_from(a):
        if a + 1 >= len(seq) or seq[a + 1] == 2:
            return None
        return next((j for j in range(a + 1, len(seq)) if seq[j] == 1), None)

    out = []
    for a1 in (j for j, t in enumerate(seq) if t == 0):
        b1 = repeat_from(a1)
        if b1 is None:
            continue
        a2 = next((j for j in range(b1 + 1, len(seq)) if seq[j] == 0), None)
        if a2 is None:
            continue
        b2 = repeat_from(a2)
        if b2 is not None:
            out.append((a2, b2, 2))
    assert got == sorted(out)


def test_inner_negation_last_step_rejected():
    sub = Pattern.begin("a", lambda r: r["et"] == 0).not_followed_by(
        "x", lambda r: r["et"] == 2
    )
    with pytest.raises(ValueError, match="LAST inner"):
        GroupPattern.begin(sub).times(2).compile()


def test_inner_negation_schema_skips_guard():
    """Negative inner steps never consume, so they contribute no match
    columns — neither in the compiled pattern nor the group projection."""
    from proteus_engine_spark.streaming.cep import _match_columns

    sub = (
        Pattern.begin("a", lambda r: r["et"] == 0)
        .not_followed_by("x", lambda r: r["et"] == 2)
        .followed_by("b", lambda r: r["et"] == 1)
    )
    pat, eff = GroupPattern.begin(sub).times(2).compile()
    assert _match_columns(pat) == ["a_id", "a_ts", "a_cnt", "b_id", "b_ts", "b_cnt"]


@given(seq=st.lists(st.integers(min_value=0, max_value=3), max_size=14),
       n=st.integers(min_value=1, max_value=2))
@settings(max_examples=150, deadline=None)
def test_inner_until_group_times(seq, n):
    """(a.one_or_more() until u -> b).times(n): a 'u' event closes the
    inner loop WITHOUT being consumed — prefix exits already spawned live
    on, so inner counts reach only the 'a's before the first 'u' after
    the repeat's start. Alphabet: 0='a', 1='b', 2='u', 3=noise."""
    sub = (
        Pattern.begin("a", lambda r: r["et"] == 0)
        .one_or_more()
        .until(lambda r: r["et"] == 2)
        .followed_by("b", lambda r: r["et"] == 1)
    )
    gp = GroupPattern.begin(sub).times(n)
    got = sorted(
        (m["a"][0], m["a"][2], m["b"][0], m["__gcnt__0"])
        for m in cep_scan(gp, seq)
    )

    out = []

    def rec(start, depth, anchored):
        a_idxs = [j for j in range(start, len(seq)) if seq[j] == 0]
        if anchored:
            starts = a_idxs  # each 'a' consumes itself on arrival
        else:
            # loop-back repeat: the partial WAITS at the until-loop with
            # zero matches — a 'u' arriving before the next 'a' kills it
            # (the step-level zero-matches rule carries into groups)
            if not a_idxs:
                return
            u0 = next((j for j in range(start, len(seq)) if seq[j] == 2),
                      None)
            if u0 is not None and u0 < a_idxs[0]:
                return
            starts = a_idxs[:1]
        for a0 in starts:
            # the loop consumes successive a's from a0 until the first
            # 'u' strictly after a0 kills the looping branch
            u = next((j for j in range(a0 + 1, len(seq)) if seq[j] == 2),
                     len(seq))
            run = [j for j in a_idxs if a0 <= j < u]
            for c in range(1, len(run) + 1):
                a_c = run[c - 1]
                b = next((k for k in range(a_c + 1, len(seq))
                          if seq[k] == 1), None)
                if b is None:
                    continue
                d = depth + 1
                if d == n:
                    out.append((a_c, c, b, d))
                else:
                    rec(b + 1, d, False)

    rec(0, 0, True)
    assert got == sorted(out)


def test_inner_until_loop_zero_matches_dies():
    """A 'u' arriving while the inner loop has zero matches kills that
    partial (the step-level rule carries into groups): seq u a b — the
    anchor opens at 'a' AFTER u, so one match; seq a u b still matches
    c=1 (the exit branch spawned before u)."""
    sub = (
        Pattern.begin("a", lambda r: r["et"] == 0)
        .one_or_more()
        .until(lambda r: r["et"] == 2)
        .followed_by("b", lambda r: r["et"] == 1)
    )
    gp = GroupPattern.begin(sub).times(1)
    m1 = cep_scan(gp, [2, 0, 1])
    assert [(m["a"][0], m["b"][0]) for m in m1] == [(1, 2)]
    m2 = cep_scan(gp, [0, 2, 1])
    assert [(m["a"][0], m["a"][2], m["b"][0]) for m in m2] == [(0, 1, 2)]


@given(seq=st.lists(st.integers(min_value=0, max_value=2), max_size=14),
       n=st.integers(min_value=1, max_value=2))
@settings(max_examples=150, deadline=None)
def test_inner_greedy_group_times(seq, n):
    """(a.one_or_more(consecutive).greedy() -> b).times(n): each repeat
    consumes the MAXIMAL consecutive 'a' run from its start — no
    per-prefix exits — then the run-breaking event is offered to 'b'
    (relaxed: first 'b' at or after the break). A run that reaches end of
    input never hands off (no match)."""
    sub = (
        Pattern.begin("a", lambda r: r["et"] == 0)
        .one_or_more(consecutive=True)
        .greedy()
        .followed_by("b", lambda r: r["et"] == 1)
    )
    gp = GroupPattern.begin(sub).times(n)
    got = sorted(
        (m["a"][0], m["a"][2], m["b"][0], m["__gcnt__0"])
        for m in cep_scan(gp, seq)
    )

    out = []

    def rec(start, depth, anchored):
        a_idxs = [j for j in range(start, len(seq)) if seq[j] == 0]
        for a0 in (a_idxs if anchored else a_idxs[:1]):
            L = 1
            while a0 + L < len(seq) and seq[a0 + L] == 0:
                L += 1
            brk = a0 + L
            if brk >= len(seq):
                continue  # run never breaks: the loop never exits
            b = next((j for j in range(brk, len(seq)) if seq[j] == 1), None)
            if b is None:
                continue
            d = depth + 1
            if d == n:
                out.append((a0 + L - 1, L, b, d))
            else:
                rec(b + 1, d, False)

    rec(0, 0, True)
    assert got == sorted(out)


def test_inner_greedy_last_step_rejected():
    sub = (
        Pattern.begin("x", lambda r: r["et"] == 2)
        .followed_by("a", lambda r: r["et"] == 0)
        .one_or_more(consecutive=True)
        .greedy()
        .followed_by("c", lambda r: r["et"] == 2)
    )
    # greedy interior: fine
    GroupPattern.begin(sub).times(2).compile()
    tail = (
        Pattern.begin("x", lambda r: r["et"] == 2)
        .followed_by("a", lambda r: r["et"] == 0)
        .one_or_more(consecutive=True)
        .greedy()
    )
    with pytest.raises(ValueError, match="LAST inner"):
        GroupPattern.begin(tail).times(2).compile()
