"""Property-based operator tests (hypothesis): invariants that must hold for
ANY input, not just the test tables — dedup idempotence, top-k containment,
ntile balance, rule-metric bounds."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from market_data_mining_project_spark.operators import relational as R
from market_data_mining_project_spark.operators import rules as RULES

_SETTINGS = dict(
    max_examples=8,  # each example spins Spark jobs — keep the corpus small
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),  # key
        st.integers(min_value=0, max_value=5),  # tiebreak
        st.floats(min_value=0, max_value=100, allow_nan=False, width=32),  # value
    ),
    min_size=1,
    max_size=60,
)


@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_dedup_keep_max_idempotent_and_minimal(spark, rows):
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    once = R.dedup_keep_max(df, keys=["k"], tiebreak=["t", "v"])
    twice = R.dedup_keep_max(once, keys=["k"], tiebreak=["t", "v"])
    got_once = sorted(map(tuple, once.collect()))
    got_twice = sorted(map(tuple, twice.collect()))
    assert got_once == got_twice  # idempotent
    keys = [r[0] for r in got_once]
    assert len(keys) == len(set(keys))  # one row per key
    # kept row is the max under (t, v) lexicographic order
    best: dict = {}
    for k, t, v in rows:
        if k not in best or (t, v) > best[k]:
            best[k] = (t, v)
    for k, t, v in got_once:
        assert (t, round(v, 5)) == (best[k][0], round(best[k][1], 5))


@given(rows=rows_strategy, n=st.integers(min_value=1, max_value=10))
@settings(**_SETTINGS)
def test_top_n_is_prefix_of_full_sort(spark, rows, n):
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    got = [tuple(r) for r in R.top_n(df, n, [F.col("v"), F.col("k"), F.col("t")]).collect()]
    full = sorted(rows, key=lambda r: (-r[2], -r[0], -r[1]))
    assert len(got) == min(n, len(rows))
    assert sorted(got) == sorted(map(tuple, full[:n]))


@given(
    baskets=st.lists(
        st.tuples(st.integers(0, 15), st.sampled_from(["a", "b", "c", "d"])),
        min_size=4,
        max_size=80,
    )
)
@settings(**_SETTINGS)
def test_rule_metrics_bounded(spark, baskets):
    df = spark.createDataFrame(baskets, ["basket", "item"])
    rules = RULES.pairwise_rules(df, "basket", "item", min_support=0.01).collect()
    for r in rules:
        assert 0 < r.support <= 1
        assert 0 < r.confidence <= 1
        assert r.lift > 0
        assert r.pair_baskets <= r.antecedent_baskets
        assert r.pair_baskets <= r.consequent_baskets


_texts = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        min_size=0,
        max_size=60,
    ),
    min_size=1,
    max_size=12,
)


@given(texts=_texts)
@settings(**_SETTINGS)
def test_fingerprint_order_and_duplication_insensitive(spark, texts):
    """The document fingerprint is defined over the sorted distinct token
    set — token order and duplication must not change it."""
    import random

    from market_data_mining_project_spark.operators import text as TXT

    rng = random.Random(7)
    rows = []
    for i, t in enumerate(texts):
        toks = t.split()
        shuffled = toks * 2
        rng.shuffle(shuffled)
        rows.append((i, t, " ".join(shuffled)))
    df = spark.createDataFrame(rows, ["i", "orig", "scrambled"])
    got = df.select(
        "i",
        TXT.fingerprint(F.col("orig")).alias("fp_a"),
        TXT.fingerprint(F.col("scrambled")).alias("fp_b"),
        TXT.token_count(F.col("orig")).alias("ws"),
        (TXT.bpe_ish_token_count(F.col("orig")) >= TXT.token_count(F.col("orig"))).alias("bpe_ge_ws"),
    ).collect()
    for r in got:
        assert r.fp_a == r.fp_b, (r.i, texts[r.i])
        assert r.bpe_ge_ws  # every ws token splits into >= 1 BPE-ish run


@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_salted_agg_equals_plain_groupby(spark, rows):
    """The skew-salted two-phase aggregate must be result-identical to the
    plain groupBy for every decomposable function, including the
    salt-on-counted-column count_distinct."""
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    salted = R.salted_agg(
        df,
        keys=["k"],
        aggs={
            "n": ("count", "v"),
            "mx": ("max", "v"),
            "mn": ("min", "v"),
            "n_t": ("count_distinct", "t"),
        },
        salt_buckets=4,
        salt_col="t",
    ).collect()
    plain = {
        r["k"]: r
        for r in df.groupBy("k")
        .agg(
            F.count("v").alias("n"),
            F.max("v").alias("mx"),
            F.min("v").alias("mn"),
            F.countDistinct("t").alias("n_t"),
        )
        .collect()
    }
    assert len(salted) == len(plain)
    for r in salted:
        p = plain[r["k"]]
        assert (r["n"], r["mx"], r["mn"], r["n_t"]) == (p["n"], p["mx"], p["mn"], p["n_t"])


@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_ntile_scores_in_range_and_balanced(spark, rows):
    df = spark.createDataFrame(rows, ["k", "t", "v"]).dropDuplicates(["k"])
    scored = R.ntile_score(df, F.col("v"), 5, "score", tiebreak=F.col("k"))
    got = scored.collect()
    assert all(1 <= r.score <= 5 for r in got)
    counts = sorted(
        scored.groupBy("score").count().rdd.map(lambda r: r["count"]).collect()
    )
    assert counts[-1] - counts[0] <= 1  # NTILE balance property


ntile_rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1000),  # unique-able key (tiebreak)
        st.one_of(st.none(), st.integers(min_value=0, max_value=6)),  # metric: ties + NULLs
        # second metric: a negative/fractional double with ties + NULLs
        st.one_of(st.none(), st.integers(min_value=-30, max_value=30).map(lambda i: i / 10)),
    ),
    min_size=1,
    max_size=40,
)


@given(rows=ntile_rows_strategy, n=st.integers(min_value=1, max_value=7), desc=st.booleans())
@settings(**_SETTINGS)
def test_ntile_histogram_equals_window_ntile_property(spark, rows, n, desc):
    """The distributed histogram NTILE must equal the global-window NTILE
    row for row — for ANY metric distribution: heavy ties, NULL metrics
    (asc → first, desc → last), fewer rows than buckets, both directions —
    whether a metric is scored alone or with a second metric in one call."""
    df = spark.createDataFrame(rows, "k int, m int, x double").dropDuplicates(["k"])

    def window(metric, out):
        return R.ntile_score(df, F.col(metric), n, out, tiebreak=F.col("k"), descending=desc)

    want = {(r.k,): r.s for r in window("m", "s").collect()}
    got = {
        (r.k,): r.s
        for r in R.ntile_score_histogram(df, {"m": "s"}, n, "k", descending=desc).collect()
    }
    assert got == want
    want_x = {(r.k,): r.s_x for r in window("x", "s_x").collect()}
    both = R.ntile_score_histogram(df, {"m": "s_m", "x": "s_x"}, n, "k", descending=desc)
    rows_both = both.collect()
    assert {(r.k,): r.s_m for r in rows_both} == want
    assert {(r.k,): r.s_x for r in rows_both} == want_x


budget_docs_strategy = st.lists(
    st.tuples(
        st.sampled_from(["en", "de", "und"]),  # group
        st.integers(min_value=0, max_value=1000),  # score milli-units → ties + bucket edges
        st.integers(min_value=1, max_value=200),  # tokens
    ),
    min_size=1,
    max_size=60,
)


@given(docs=budget_docs_strategy, budget=st.integers(min_value=1, max_value=2000))
@settings(**_SETTINGS)
def test_token_budget_bucketed_equals_naive_property(spark, docs, budget):
    """For ANY score distribution (including exact ties and scores landing
    on bucket edges) the bucketed two-phase selection keeps exactly the docs
    the naive full-sort cumsum keeps."""
    from market_data_mining_project_spark.operators import text as TXT

    rows = [(i, g, s / 1000.0, t) for i, (g, s, t) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING, score DOUBLE, tokens LONG")
    args = ("lang", "score", "tokens", "doc_id")
    naive = {r.doc_id for r in TXT.token_budget_select_naive(df, *args, budget=budget).collect()}
    fast = {
        r.doc_id
        for r in TXT.token_budget_select(df, *args, budget=budget, num_buckets=16).collect()
    }
    assert naive == fast


_texts_strategy = st.lists(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=4),  # tokens incl. spaces/empties
        min_size=0,
        max_size=25,
    ).map(lambda toks: " ".join(toks)),
    min_size=1,
    max_size=12,
)


def _py_tokens(text: str) -> list[str]:
    return [t for t in text.strip().split() if t]


def _py_grams(toks: list[str], n: int) -> list[str]:
    if not toks:
        return []
    return [" ".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)]


@given(texts=_texts_strategy, n=st.integers(min_value=1, max_value=6))
@settings(**_SETTINGS)
def test_gram_builders_match_python_reference(spark, texts, n):
    """The let-bound gram construction (dedup.shingles / span_grams) and the
    zip_with bigrams must agree with a direct Python implementation on ANY
    whitespace mess — empty docs, runs of spaces, docs shorter than n."""
    from market_data_mining_project_spark.operators import dedup as D
    from market_data_mining_project_spark.operators import text as TXT

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "text"])
    got = {
        r.id: (list(r.sh), list(r.sp), list(r.bg))
        for r in df.select(
            "id",
            D.shingles(F.col("text"), n).alias("sh"),
            D.span_grams(F.col("text"), n).alias("sp"),
            TXT.word_bigrams(F.col("text")).alias("bg"),
        ).collect()
    }
    for i, text in enumerate(texts):
        toks = _py_tokens(text)
        grams = [g for g in _py_grams(toks, n) if g]
        want_sh = list(dict.fromkeys(grams))  # distinct, first-seen order
        want_bg = [" ".join(p) for p in zip(toks, toks[1:])]
        assert got[i][0] == want_sh, f"shingles diverge on {text!r}"
        assert got[i][1] == grams, f"span_grams diverge on {text!r}"
        assert got[i][2] == want_bg, f"word_bigrams diverge on {text!r}"


@given(texts=_texts_strategy)
@settings(**_SETTINGS)
def test_top_bigram_fraction_matches_python_reference(spark, texts):
    from collections import Counter

    from market_data_mining_project_spark.operators import text as TXT

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "text"])
    got = {
        r.id: r.f
        for r in df.select(
            "id", TXT.top_bigram_fraction(F.col("text")).alias("f")
        ).collect()
    }
    for i, text in enumerate(texts):
        toks = _py_tokens(text)
        bg = [" ".join(p) for p in zip(toks, toks[1:])]
        want = round(max(Counter(bg).values()) / len(bg), 6) if bg else 0.0
        assert abs(got[i] - want) < 1e-9, f"top_bigram_fraction diverges on {text!r}"


# --- retrieval / LM gram builders -----------------------------------------------


@given(
    texts=st.lists(
        st.text(alphabet="aB x9.", max_size=24), min_size=1, max_size=10
    )
)
@settings(**_SETTINGS)
def test_char_ngrams_match_python_slicing(spark, texts):
    from market_data_mining_project_spark.operators import text as TXT

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.g
        for r in df.select(
            "doc_id", TXT.char_ngrams(F.col("text"), 3).alias("g")
        ).collect()
    }
    for i, t in rows:
        tl = t.lower()
        want = [tl[j : j + 3] for j in range(max(len(tl) - 2, 0))]
        assert got[i] == want, f"doc {i}: {got[i]} != {want}"


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["ape", "bee", "cow", "dog"]), max_size=12).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    ),
    terms=st.lists(
        st.sampled_from(["ape", "bee", "cow", "zzz"]), min_size=1, max_size=3
    ),
)
@settings(**_SETTINGS)
def test_bm25_matches_python_reference_any_corpus(spark, texts, terms):
    from market_data_mining_project_spark.operators import retrieval as RET

    corpus = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r.doc_id: r.score
        for r in RET.bm25_topk(df, terms, "text", "doc_id", k=len(corpus) + 1).collect()
    }
    want = RET.bm25_score_py(corpus, terms)
    assert set(got) == set(want)
    for doc, score in want.items():
        assert abs(got[doc] - score) < 1e-6


# --- packing / mixture invariants ------------------------------------------------


@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),  # doc id (deduped below)
            st.integers(min_value=1, max_value=900),  # token count
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    seq_len=st.sampled_from([64, 128, 256]),
)
@settings(**_SETTINGS)
def test_pack_sequences_invariants_any_corpus(spark, docs, seq_len):
    """For ANY corpus: token conservation per doc, no sequence overflow,
    full-chunk sequences exactly full, and determinism (the same corpus
    packs identically on repeat — the machine-independence contract the
    fixed bucket count exists for)."""
    from collections import Counter

    from market_data_mining_project_spark.operators import packing as PK

    df = spark.createDataFrame(docs, "doc_id long, t long")
    rows = PK.pack_sequences(df, "doc_id", "t", seq_len=seq_len, buckets=3).collect()
    per_doc = Counter()
    per_seq = Counter()
    for r in rows:
        per_doc[r.doc_id] += r.piece_tokens
        per_seq[r.seq_id] += r.piece_tokens
    assert dict(per_doc) == dict(docs)
    assert all(v <= seq_len for v in per_seq.values())
    for r in rows:
        if r.seq_id.startswith("full#"):
            assert r.piece_tokens == seq_len
    # determinism: repeat run produces the identical assignment (a
    # partition-dependent bucketing would shuffle seq_ids between runs of
    # a repartitioned input)
    again = PK.pack_sequences(
        df.repartition(5), "doc_id", "t", seq_len=seq_len, buckets=3
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


@given(
    rates=st.dictionaries(
        st.sampled_from(["s0", "s1", "s2"]),
        st.floats(min_value=0.0, max_value=3.0, allow_nan=False),
        min_size=1,
        max_size=3,
    )
)
@settings(**_SETTINGS)
def test_apply_mixture_copy_bounds_any_rates(spark, rates):
    """Every doc of a rate-r source appears EXACTLY floor(r) + (hash_frac <
    frac(r)) times. The fraction is recomputed in PURE PYTHON (hashlib
    md5 — the operator hashes md5 since r12 so the DuckDB oracle twin can
    replay the copy decision bit-identically), which pins the hash, the
    floor/fractional arithmetic and the join/explode shape independently
    of Spark; three hardcoded reference values additionally pin the
    seed/substring/scale conventions. Copy indices must be 0-based and
    dense; unplanned sources drop entirely."""
    import hashlib
    import math
    from collections import Counter

    from market_data_mining_project_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", 10 + i) for i in range(12)], "doc_id long, source string, t long"
    )
    plan = spark.createDataFrame(
        [(s, r) for s, r in rates.items()], "source string, sample_rate double"
    )
    sampled = C.apply_mixture(docs, plan, "source", "doc_id", seed=7).collect()
    out = Counter(r.doc_id for r in sampled)
    fr = {
        i: int(hashlib.md5(f"{i}:7".encode()).hexdigest()[:8], 16) / 4294967296.0
        for i in range(12)
    }
    # pin the hash convention against fixed md5 reference values — a
    # silently changed seed/prefix-width/scale would otherwise corrupt
    # BOTH the operator and this recount identically
    assert round(fr[0] * 4294967296) == 2263107895
    assert round(fr[5] * 4294967296) == 186683737
    assert round(fr[11] * 4294967296) == 1938757134
    for i in range(12):
        s = f"s{i % 3}"
        if s not in rates:
            assert i not in out  # unplanned source: dropped entirely
            continue
        rate = rates[s]
        want = math.floor(rate) + (1 if fr[i] < rate - math.floor(rate) else 0)
        assert out.get(i, 0) == want, (i, s, rate, fr[i], out.get(i, 0))
    per_doc_copies: dict = {}
    for r in sampled:
        per_doc_copies.setdefault(r.doc_id, []).append(r.copy)
    for d, cps in per_doc_copies.items():
        assert sorted(cps) == list(range(len(cps)))


def test_apply_mixture_null_id_hashes_seed_only(spark):
    """A NULL id rides concat_ws, which SKIPS nulls — the hash input is
    just the seed string ('7'), not NULL. Pinned because the DuckDB twin
    must mirror this exact convention (a naive `id || ':seed'` there
    propagates NULL and silently drops the fractional copy)."""
    import hashlib
    import math

    from market_data_mining_project_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [(None, "s0", 10), (1, "s0", 20)], "doc_id long, source string, t long"
    )
    plan = spark.createDataFrame([("s0", 1.5)], "source string, sample_rate double")
    out = C.apply_mixture(docs, plan, "source", "doc_id", seed=7).collect()
    null_copies = sum(1 for r in out if r.doc_id is None)
    frac = int(hashlib.md5(b"7").hexdigest()[:8], 16) / 4294967296.0
    want = math.floor(1.5) + (1 if frac < 0.5 else 0)
    assert null_copies == want, (null_copies, want, frac)


# --- sessionize bucket-stitch (r6p3) --------------------------------------

session_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),        # user
        st.integers(min_value=0, max_value=100_000),  # epoch seconds
    ),
    min_size=1,
    max_size=60,
)


@given(events=session_events, gap=st.sampled_from([1, 600, 7200]),
       bucket=st.sampled_from([100, 3600, 86400]))
@settings(**_SETTINGS)
def test_sessionize_bucketed_equals_plain_property(spark, events, gap, bucket):
    """For ANY event set, gap and bucket width (including widths smaller
    than the gap and duplicate timestamps), the bounded-state bucket path
    must number sessions exactly like the plain single-window path, and a
    brute-force Python sessionizer must agree with both."""
    from market_data_mining_project_spark.operators.temporal import sessionize

    rows = [(i, u, t) for i, (u, t) in enumerate(events)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, te long")
    plain = {
        r.event_id: r.session_seq
        for r in sessionize(df, "user_id", "te", gap, "event_id").collect()
    }
    bucketed = {
        r.event_id: r.session_seq
        for r in sessionize(
            df, "user_id", "te", gap, "event_id", bucket_secs=bucket
        ).collect()
    }
    assert bucketed == plain
    # brute force: sort each user's events by (ts, event_id), count starts
    brute = {}
    by_user: dict = {}
    for i, u, t in rows:
        by_user.setdefault(u, []).append((t, i))
    for u, evs in by_user.items():
        evs.sort()
        seq, prev = 0, None
        for t, i in evs:
            if prev is None or t - prev > gap:
                seq += 1
            brute[i] = seq
            prev = t
    assert plain == brute


def test_ntile_histogram_rejects_reserved_columns(spark):
    """Call-time input checks: a column named like an internal of the
    stacked pass, and a metric the DOUBLE stack cannot order, both raise
    before any plan runs."""
    import pytest

    df = spark.createDataFrame([(1, 2, 3)], "k int, m int, __base int")
    with pytest.raises(ValueError, match="reserved"):
        R.ntile_score_histogram(df, {"m": "s"}, 5, "k")
    df = spark.createDataFrame([(1, 2, 3)], "k int, m int, __key int")
    with pytest.raises(ValueError, match="reserved"):
        R.ntile_score_histogram(df, {"m": "s"}, 5, "k")
    df = spark.createDataFrame([(1, 2, "a")], "k int, m int, t string")
    with pytest.raises(ValueError, match="non-numeric metrics.*t string"):
        R.ntile_score_histogram(df, {"m": "s_m", "t": "s_t"}, 5, "k")
