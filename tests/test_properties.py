"""Property-based tests (hypothesis): operator semantics vs brute-force
Python models on arbitrary small inputs.  The reference has no tests
beyond two curl scripts; these pin the semantics the oracle SQL can't
reach (arbitrary data, not just the fixtures)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from simple_vector_spark.operators import mutation as M
from simple_vector_spark.operators import relational as R

SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

log_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),  # key
        st.integers(min_value=0, max_value=20),  # seq
        st.integers(min_value=0, max_value=99),  # payload
    ),
    min_size=1,
    max_size=20,
)


@SET
@given(rows=log_rows)
def test_latest_wins_matches_model(spark, rows):
    """latest_wins == 'replay sorted by (seq, payload) into a dict'.
    The payload tiebreak mirrors the operator's full seq ordering."""
    df = spark.createDataFrame(rows, "id long, seq long, payload long")
    got = {
        r.id: (r.seq, r.payload)
        for r in M.latest_wins(df, ["id"], ["seq", "payload"]).collect()
    }
    model: dict[int, tuple[int, int]] = {}
    for k, s, p in sorted(rows, key=lambda t: (t[1], t[2])):
        model[k] = (s, p)
    assert got == model


asof_rows = st.tuples(
    st.lists(  # left: (key, ts)
        st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=12
    ),
    st.lists(  # right: (key, ts, payload)
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 99)),
        min_size=0,
        max_size=12,
    ),
)


@SET
@given(data=asof_rows)
def test_asof_join_matches_model(spark, data):
    """asof_join == per-left-row 'latest right with ts <= left.ts'.
    Right-side ts ties: the window takes the LAST right row in (ts,
    payload-insertion) order — model with max payload among tied max-ts
    rows made unambiguous by deduping right on (key, ts)."""
    left_rows, right_rows = data
    # dedupe right on (key, ts) so the as-of pick is unambiguous
    right_map = {}
    for k, t, p in right_rows:
        right_map[(k, t)] = p
    right_rows = [(k, t, p) for (k, t), p in right_map.items()]

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)], "k long, ts long, lid long"
    )
    right = spark.createDataFrame(right_rows, "k long, ts long, payload long")
    out = R.asof_join(left, right, ["k"], "ts", ["payload"])
    got = {r.lid: r.payload for r in out.collect()}

    for i, (k, t) in enumerate(left_rows):
        cands = [(rt, p) for (rk, rt, p) in right_rows if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[i] == want, f"left row {i} (k={k}, ts={t})"


@SET
@given(
    texts=st.lists(
        st.text(alphabet="ab .", min_size=0, max_size=30), min_size=1, max_size=15
    )
)
def test_exact_dedup_keeps_one_per_distinct_text(spark, texts):
    from simple_vector_spark.operators import pipeline as P

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    kept = P.exact_dedup_keepers(df).collect()
    # one keeper per distinct text, and it is the min id of its group
    by_text: dict[str, int] = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, i)
    assert {r.text: r.doc_id for r in kept} == by_text


@SET
@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60
    ),
    k=st.integers(min_value=1, max_value=7),
)
def test_two_phase_ntile_matches_window_ntile(spark, vals, k):
    """grouped_ntile (range-partitioned two-phase) must equal Spark's
    own ntile(k).over(Window.orderBy(...)) on arbitrary data — the
    distributed rewrite may not change a single bucket assignment."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from simple_vector_spark.operators.ranking import grouped_ntile

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        r.id: r.b
        for r in grouped_ntile(
            df, [F.col("v").asc(), F.col("id").asc()], k, "b"
        ).collect()
    }
    want = {
        r.id: r.b
        for r in df.select(
            "id",
            F.ntile(k)
            .over(Window.orderBy(F.col("v").asc(), F.col("id").asc()))
            .alias("b"),
        ).collect()
    }
    assert got == want


bloom_sets = st.tuples(
    st.sets(st.integers(min_value=0, max_value=500), min_size=1, max_size=30),
    st.sets(st.integers(min_value=0, max_value=500), min_size=1, max_size=60),
)


@SET
@given(sets=bloom_sets)
def test_bloom_never_false_negative(spark, sets):
    """Bloom membership: every probe key in the build set must pass;
    pass-count never below true-member count (one-sided error)."""
    from simple_vector_spark.operators import sketches as SK

    build_keys, probe_keys = sets
    build = spark.createDataFrame([(k,) for k in build_keys], "k long")
    probe = spark.createDataFrame([(k,) for k in probe_keys], "k long")
    r = SK.bloom_prune_audit(build, probe, "k", "k").collect()[0]
    n_true = len(build_keys & probe_keys)
    assert r["n_true"] == n_true
    assert r["n_pass"] >= n_true
    assert r["n_probe"] == len(probe_keys)


pack_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),  # doc_id
        st.integers(min_value=0, max_value=12),  # token count
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],
)


@SET
@given(rows=pack_docs)
def test_packing_matches_sequential_model(spark, rows):
    """pack_context_windows == 'walk docs in id order, pack =
    floor(tokens_before / capacity)' — per (source, shard)."""
    from simple_vector_spark.operators import pipeline as PL

    cap, shard = 8, 10
    docs = spark.createDataFrame(
        [(i, "s", " ".join(["w"] * n)) for i, n in rows],
        "doc_id long, source string, text string",
    )
    got = {r["source"]: r for r in PL.pack_context_windows(docs, cap, shard).collect()}

    packs: dict[tuple[int, int], list[int]] = {}
    for i, n in sorted(rows):
        cum = 0
        key_shard = i // shard
        # tokens before this doc within its shard
        cum = sum(m for j, m in rows if j // shard == key_shard and j < i)
        packs.setdefault((key_shard, cum // cap), []).append(n)
    n_docs = len(rows)
    n_tokens = sum(n for _, n in rows)
    assert got["s"]["n_docs"] == n_docs
    assert got["s"]["n_tokens"] == n_tokens
    assert got["s"]["n_packs"] == len(packs)


prefix_rows = st.lists(
    st.integers(min_value=-50, max_value=50), min_size=1, max_size=25
)


@SET
@given(vals=prefix_rows)
def test_prefix_max_matches_sequential_model(spark, vals):
    """prefix_fold's running max == a sequential running max over the sort
    order, for arbitrary values including duplicates and negatives."""
    from pyspark.sql import functions as F

    from simple_vector_spark.operators.ranking import prefix_fold

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, v long"
    )
    got = {
        r["k"]: r["cum_max"]
        for r in prefix_fold(df, [F.col("k").asc()], maxes={"v": "cum_max"}).collect()
    }
    run = None
    for i, v in enumerate(vals):
        run = v if run is None else max(run, v)
        assert got[i] == run


fp_rows = st.lists(
    st.tuples(st.integers(0, 9), st.text(alphabet="abcxyz", max_size=4)),
    min_size=1,
    max_size=15,
)


@SET
@given(rows=fp_rows)
def test_fingerprint_permutation_invariant(spark, rows):
    """table_fingerprint is invariant under row permutation and
    changes under any single-row mutation (w.h.p.)."""
    from pyspark.sql import functions as F

    from simple_vector_spark.operators.validate import table_fingerprint

    cols = [F.col("k").cast("string"), F.col("s")]
    a = spark.createDataFrame(rows, "k long, s string")
    b = spark.createDataFrame(list(reversed(rows)), "k long, s string")
    fa = table_fingerprint(a, cols, "t").collect()[0]
    fb = table_fingerprint(b, cols, "t").collect()[0]
    assert fa["fingerprint"] == fb["fingerprint"]
    mutated = rows[:-1] + [(rows[-1][0] + 1, rows[-1][1] + "Z")]
    fc = table_fingerprint(
        spark.createDataFrame(mutated, "k long, s string"), cols, "t"
    ).collect()[0]
    assert fc["fingerprint"] != fa["fingerprint"]


sky_rows = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=6),   # custkey bucket
        st.integers(min_value=1, max_value=40),  # order value
    ),
    min_size=1,
    max_size=20,
)


@SET
@given(rows=sky_rows)
def test_skyline_matches_bruteforce_dominance(spark, rows):
    """customers_skyline == brute-force strict-dominance filter with
    min-custkey collapse of exact ties, on arbitrary order sets."""
    import datetime

    from simple_vector_spark.operators import relational as RR

    d = datetime.datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(i, c, float(v), d) for i, (c, v) in enumerate(rows)],
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp",
    )
    got = {
        (r["o_custkey"], r["total_spend"], r["n_orders"])
        for r in RR.customers_skyline(orders).collect()
    }
    per: dict[int, list[float]] = {}
    for c, v in rows:
        per.setdefault(c, []).append(float(v))
    pts = {c: (sum(vs), len(vs)) for c, vs in per.items()}
    sky = {
        c
        for c, (s, n) in pts.items()
        if not any(
            (s2 >= s and n2 >= n and (s2 > s or n2 > n))
            for c2, (s2, n2) in pts.items()
            if c2 != c
        )
    }
    # collapse exact (spend, n) ties to min custkey
    rep: dict[tuple[float, int], int] = {}
    for c in sky:
        key = pts[c]
        rep[key] = min(rep.get(key, c), c)
    model = {(c, round(s, 2), n) for (s, n), c in rep.items()}
    assert got == model
