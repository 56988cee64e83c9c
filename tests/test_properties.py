"""Property-based checks (hypothesis): the custom join rewrites must
equal their naive formulations on arbitrary small inputs — boundary
cases (equal timestamps, window edges, empty sides) that fixed
fixtures miss."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_kafka_filter_transform_spark.operators.asof import asof_join
from flink_kafka_filter_transform_spark.operators.rangejoin import range_join_bucketed

WINDOW = 10

_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 40)),  # (key, ts)
    min_size=0,
    max_size=12,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=_rows, right=_rows)
def test_range_join_bucketed_equals_naive(spark_prop, left, right):
    l_df = spark_prop.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "key INT, l_ts INT, l_id INT"
    )
    r_df = spark_prop.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(right)], "key INT, r_ts INT, r_id INT"
    )
    got = {
        (r.l_id, r.r_id)
        for r in range_join_bucketed(
            l_df, r_df, key="key", left_ts="l_ts", right_ts="r_ts", window_us=WINDOW
        ).collect()
    }
    want = {
        (li, ri)
        for li, (lk, lt) in enumerate(left)
        for ri, (rk, rt) in enumerate(right)
        if lk == rk and lt - WINDOW < rt <= lt
    }
    assert got == want


_right_unique = st.lists(
    st.tuples(
        st.integers(0, 2),
        st.integers(0, 40),
        st.one_of(st.none(), st.integers(-5, 5)),  # NULL values must carry
    ),
    min_size=0,
    max_size=10,
    unique_by=lambda r: (r[0], r[1]),  # unique (key, ts) as asof requires
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=_rows, right=_right_unique)
def test_asof_join_equals_naive(spark_prop, left, right):
    l_df = spark_prop.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "key INT, l_ts INT, l_id INT"
    )
    r_df = spark_prop.createDataFrame(
        [(k, t, v) for (k, t, v) in right], "key INT, r_ts INT, v INT"
    )
    got = {
        (r.l_id, r.asof_v)
        for r in asof_join(
            l_df, r_df, key="key", left_ts="l_ts", right_ts="r_ts", value_cols=["v"]
        ).collect()
    }
    want = set()
    for li, (lk, lt) in enumerate(left):
        cands = [(rt, v) for (rk, rt, v) in right if rk == lk and rt <= lt]
        want.add((li, max(cands)[1] if cands else None))
    assert got == want


_token_lists = st.lists(
    st.text(alphabet="abc", min_size=1, max_size=3), min_size=0, max_size=10
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(toks=_token_lists, n=st.integers(2, 4))
def test_token_ngrams_equals_naive(spark_prop, toks, n):
    """The zip-shifted n-gram builder must equal the obvious windowed
    construction for any token list — including lists shorter than n
    (empty result, no crash: the sequence-counts-down regression)."""
    from flink_kafka_filter_transform_spark.operators.text import token_ngrams

    df = spark_prop.createDataFrame([(toks,)], "toks array<string>")
    got_all = df.select(token_ngrams(F.col("toks"), n, distinct=False).alias("g")).collect()[0].g
    got_distinct = df.select(token_ngrams(F.col("toks"), n).alias("g")).collect()[0].g
    want_all = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    assert got_all == want_all
    assert got_distinct == list(dict.fromkeys(want_all))  # order-preserving dedup


# ---------------------------------------------------------------------------
# LSH skew guard (deterministic stress): one degenerate band bucket
# must not blow up candidate volume or hurt recall elsewhere.
# ---------------------------------------------------------------------------

# 8-token base docs: 6 shingles, a last-token edit shares 5 -> union 7,
# jaccard 5/7 ~ 0.714 >= JACCARD_THRESHOLD (0.6).
_PAIR_BASES = [
    "red green blue yellow purple cyan magenta black",
    "one two three four five six seven eight",
    "ant bee cat dog emu fox gnu hen",
    "north south east west up down left right",
    "spark flink kafka duck arrow pandas numpy scala",
]


def _skew_corpus(with_degenerate: bool):
    rows = []
    for i, base in enumerate(_PAIR_BASES):
        toks = base.split()
        rows.append((2 * i, base))
        rows.append((2 * i + 1, " ".join(toks[:-1] + ["variant"])))
    if with_degenerate:
        # identical docs -> identical signatures -> every band bucket
        # holds all of them, far beyond the cap
        rows += [(1000 + j, "alpha beta gamma delta epsilon") for j in range(150)]
    return rows


def test_lsh_bucket_cap_bounds_skew_and_preserves_recall(spark):
    """A degenerate bucket > LSH_BUCKET_CAP (operators/params.py) is
    dropped wholesale: candidate volume stays bounded (no 150^2/2
    blowup) and pairs living in healthy buckets keep their recall."""
    from flink_kafka_filter_transform_spark.operators import params
    from flink_kafka_filter_transform_spark.operators.dedup import (
        lsh_candidates,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    n_degenerate = 150
    assert n_degenerate > params.LSH_BUCKET_CAP  # the stress premise

    def run(with_degenerate):
        df = spark.createDataFrame(
            _skew_corpus(with_degenerate), "doc_id BIGINT, text STRING"
        )
        cands = lsh_candidates(minhash_signatures(df)).collect()
        pairs = {
            (r.doc_a, r.doc_b) for r in minhash_lsh_pairs(df).collect()
        }
        return cands, pairs

    cands_skew, pairs_skew = run(True)
    _, pairs_clean = run(False)

    # bounded: the degenerate cluster contributes ZERO candidates (its
    # buckets exceed the cap), so volume stays at healthy-bucket scale
    all_pairs_degenerate = n_degenerate * (n_degenerate - 1) // 2
    assert len(cands_skew) < 100 < all_pairs_degenerate
    assert not any(a >= 1000 or b >= 1000 for a, b in {(c.doc_a, c.doc_b) for c in cands_skew})

    # recall on non-degenerate pairs unaffected by the skew cluster
    planted = {(2 * i, 2 * i + 1) for i in range(len(_PAIR_BASES))}
    assert planted <= pairs_skew
    assert pairs_skew == pairs_clean


def test_session_window_merges_exact_gap(spark):
    """Pins Spark session_window's boundary convention EMPIRICALLY: a
    gap of EXACTLY the session timeout stays in the SAME session (the
    merge condition is start <= previous end, so touching windows
    merge). oracles.events_sessionized_native_oracle encodes the same
    strictly-greater-breaks convention — if Spark ever flipped this,
    the parity gate would red only on corpora with exact-gap pairs;
    this test fails immediately. A slightly-larger gap must break."""
    base = 1_700_000_000_000_000  # us
    gap_us = 30 * 60 * 1_000_000

    def sessions(ts_list):
        df = spark.createDataFrame([(1, t) for t in ts_list], "user_id INT, ts_us BIGINT")
        out = (
            df.select("user_id", F.timestamp_micros(F.col("ts_us")).alias("tsx"))
            .groupBy("user_id", F.session_window("tsx", "30 minutes"))
            .count()
            .collect()
        )
        return sorted(r["count"] for r in out)

    # exact gap MERGES: one session of all three events
    assert sessions([base, base + gap_us, base + gap_us + 1_000_000]) == [3]
    # one microsecond beyond the gap BREAKS
    assert sessions([base, base + gap_us + 1, base + gap_us + 1_000_000]) == [1, 2]


def _bpe_reference(docs: list[list[str]], steps: int):
    """Independent pure-Python BPE: count adjacent pairs (overlapping
    counts), pick (max count, lexicographically smallest) pair, merge
    left-to-right non-overlapping, repeat."""
    corpus = [list(d) for d in docs if d]
    trace = []
    for _ in range(steps):
        counts: dict[tuple[str, str], int] = {}
        for d in corpus:
            for a, b in zip(d, d[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        if not counts:
            break
        pair = min(counts, key=lambda p: (-counts[p], p))
        trace.append((pair[0], pair[1], counts[pair]))
        a, b = pair
        merged = a + "\x1e" + b
        new_corpus = []
        for d in corpus:
            out, i = [], 0
            while i < len(d):
                if i + 1 < len(d) and d[i] == a and d[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(d[i])
                    i += 1
            new_corpus.append(out)
        corpus = new_corpus
    return trace


def _bpe_reference_encode(docs: list[list[str]], steps: int) -> list[list[str]]:
    """The reference ENCODER: run _bpe_reference's loop and return the
    final rewritten corpus (all ``steps`` merges applied), one entry
    per non-empty input doc in order."""
    corpus = [list(d) for d in docs if d]
    for _ in range(steps):
        counts: dict[tuple[str, str], int] = {}
        for d in corpus:
            for a, b in zip(d, d[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        if not counts:
            break
        a, b = min(counts, key=lambda p: (-counts[p], p))
        merged = a + "\x1e" + b
        new_corpus = []
        for d in corpus:
            out, i = [], 0
            while i < len(d):
                if i + 1 < len(d) and d[i] == a and d[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(d[i])
                    i += 1
            new_corpus.append(out)
        corpus = new_corpus
    return corpus


_bpe_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "ab"]), min_size=0, max_size=8),
    min_size=1,
    max_size=6,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=_bpe_docs, steps=st.integers(1, 3))
def test_bpe_merges_equals_reference(spark_prop, docs, steps):
    """The Spark replace()-based merge loop must equal an independent
    pure-Python BPE on arbitrary tiny corpora — including adjacent
    repeats ('a a a a') and tokens that look like earlier merges."""
    from flink_kafka_filter_transform_spark.operators.text import bpe_merges

    df = spark_prop.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)], "doc_id INT, text STRING"
    )
    got = [
        (r["pair_a"], r["pair_b"], r["n_occurrences"])
        for r in bpe_merges(df, steps=steps).orderBy("step").collect()
    ]
    want = [
        (a.replace("\x1e", " "), b.replace("\x1e", " "), n)
        for a, b, n in _bpe_reference(docs, steps)
    ]
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.sampled_from(["view", "click", "purchase"]), st.integers(0, 50)),
        min_size=0,
        max_size=14,
    )
)
def test_daily_funnel_is_input_order_insensitive(spark_prop, rows):
    """Conversion flags depend only on per-user first-event times, so
    any permutation of the input rows yields the identical funnel."""
    from flink_kafka_filter_transform_spark.operators.relational import daily_funnel

    def build(ordering):
        return spark_prop.createDataFrame(
            [
                (u, t, 1_700_000_000_000_000 + s * 1_000_000)
                for (u, t, s) in ordering
            ],
            "user_id INT, event_type STRING, ts_us LONG",
        ).selectExpr("user_id", "event_type", "timestamp_micros(ts_us) AS ts")

    fwd = {tuple(r) for r in daily_funnel(build(rows)).collect()}
    rev = {tuple(r) for r in daily_funnel(build(list(reversed(rows)))).collect()}
    assert fwd == rev


def test_crossdoc_overlap_exact_duplicate_is_fully_shared(spark_prop):
    """A verbatim duplicate document must report shared_fraction 1.0
    on both copies; a unique long document reports 0.0."""
    from flink_kafka_filter_transform_spark.operators.dedup import crossdoc_ngram_overlap

    df = spark_prop.createDataFrame(
        [
            (0, "w x y z w x"),
            (1, "w x y z w x"),
            (2, "p q r s t u v"),
        ],
        "doc_id INT, text STRING",
    )
    got = {r["doc_id"]: r["shared_fraction"] for r in crossdoc_ngram_overlap(df, n=4).collect()}
    assert got[0] == 1.0 and got[1] == 1.0 and got[2] == 0.0


def test_gram_novelty_first_copy_wins(spark_prop):
    """First-occurrence semantics: the earlier copy of a verbatim
    duplicate is fully novel, the later copy fully stale; a unique doc
    is fully novel regardless of position; and a doc that shares SOME
    grams with an earlier doc reports the exact partial fraction."""
    from flink_kafka_filter_transform_spark.operators.dedup import (
        gram_novelty_profile,
    )

    df = spark_prop.createDataFrame(
        [
            (0, "w x y z w x"),  # 3 distinct 4-grams, all first here
            (1, "w x y z w x"),  # verbatim dup of 0 -> novelty 0
            (2, "p q r s t u v"),  # unique -> novelty 1
            (3, "w x y z a b c"),  # shares gram "w x y z" with doc 0
        ],
        "doc_id INT, text STRING",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_fraction"])
        for r in gram_novelty_profile(df, n=4).collect()
    }
    assert got[0] == (3, 3, 1.0)
    assert got[1] == (3, 0, 0.0)
    assert got[2] == (4, 4, 1.0)
    assert got[3] == (4, 3, 0.75)  # "w x y z" first seen in doc 0


def test_source_overlap_matrix_detects_mirror(spark_prop):
    """A source that verbatim-mirrors another shows containment 1.0 in
    both directions; an unrelated source shares nothing; diagonals are
    always 1.0."""
    from flink_kafka_filter_transform_spark.operators.dedup import (
        source_overlap_matrix,
    )

    df = spark_prop.createDataFrame(
        [
            (0, "w x y z w x y", "A"),
            (1, "w x y z w x y", "B"),  # B mirrors A
            (2, "p q r s t u v", "C"),  # unrelated
        ],
        "doc_id INT, text STRING, source STRING",
    )
    got = {
        (r["src_a"], r["src_b"]): (r["n_shared"], r["containment"])
        for r in source_overlap_matrix(df, n=4).collect()
    }
    assert got[("A", "B")] == (4, 1.0) and got[("B", "A")] == (4, 1.0)
    assert got[("A", "A")] == (4, 1.0) and got[("C", "C")] == (4, 1.0)
    assert ("A", "C") not in got and ("C", "B") not in got


def test_audio_silence_segments_partition_the_clip(spark_prop):
    """Segments are maximal runs: per doc they tile [0, VAD_NFRAMES)
    exactly (starts/lengths chain, lengths sum to VAD_NFRAMES), the
    active flag strictly alternates (maximality), and every segment
    is non-empty."""
    from flink_kafka_filter_transform_spark.operators import params
    from flink_kafka_filter_transform_spark.operators.multimodal import (
        audio_silence_segments,
    )

    df = spark_prop.createDataFrame(
        [(i, "x") for i in range(8)], "doc_id LONG, text STRING"
    )
    rows = audio_silence_segments(df).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(range(8))
    for segs in by_doc.values():
        segs.sort(key=lambda r: r["seg_idx"])
        pos = 0
        for j, s in enumerate(segs):
            assert s["seg_idx"] == j
            assert s["start_frame"] == pos
            assert s["n_frames"] >= 1
            if j > 0:
                assert s["active"] != segs[j - 1]["active"]  # maximal runs
            pos += s["n_frames"]
        assert pos == params.VAD_NFRAMES


def test_token_pack_report_conserves_tokens(spark_prop):
    """Every token lands in exactly one (source, pack): per-source pack
    sums must equal the source's raw token totals, and pack 0 must
    exist for every non-empty source."""
    from pyspark.sql import functions as F

    from flink_kafka_filter_transform_spark.operators.text import token_pack_report, tokens

    df = spark_prop.createDataFrame(
        [
            (0, "s0", "a b c d e"),
            (1, "s0", "f g"),
            (2, "s1", " ".join(["t"] * 23)),
            (3, "s1", "u v w"),
        ],
        "doc_id INT, source STRING, text STRING",
    )
    report = token_pack_report(df, window=8)
    got = {
        (r["source"], r["total"]) for r in report.groupBy("source").agg(F.sum("n_tokens").alias("total")).collect()
    }
    want = {
        (r["source"], r["total"])
        for r in df.select("source", F.size(tokens()).alias("n")).groupBy("source").agg(F.sum("n").alias("total")).collect()
    }
    assert got == want
    assert {r["source"] for r in report.filter(F.col("pack_id") == 0).collect()} == {"s0", "s1"}


def test_semdedup_drops_exactly_one_of_identical_pair(spark):
    """Two identical vectors land in the same k-means cell with equal
    centroid similarity; the tie rule keeps the LOWER vec_id. Distinct
    well-separated vectors survive."""
    import numpy as np

    from flink_kafka_filter_transform_spark.operators.dedup import semdedup_prune

    rng = np.random.default_rng(7)
    rows = []
    for i in range(10):
        v = rng.normal(size=8)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v], 0))
    rows.append((10, rows[9][1], 0))  # exact duplicate of vec 9
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )
    rep = semdedup_prune(emb, k=2, iters=1, threshold=0.999).collect()
    total_dropped = sum(r.n_dropped for r in rep)
    total = sum(r.n_vectors for r in rep)
    assert total == 11
    assert total_dropped == 1  # exactly the duplicate, nothing else


def test_temperature_mixture_equal_sources_are_neutral(spark):
    """Equal-size sources: raw_share = 1/k, temp_weight = 1,
    upsample_factor = 1 for every source (exact doubles)."""
    from flink_kafka_filter_transform_spark.operators.sampling import (
        temperature_mixture_report,
    )

    rows = [(i, "tok tok tok tok", "en", f"src{i % 4}", 15) for i in range(40)]
    docs = spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    )
    rep = temperature_mixture_report(docs).collect()
    assert len(rep) == 4
    for r in rep:
        assert r.raw_share == 0.25
        assert r.temp_weight == 1.0
        assert r.upsample_factor == 1.0


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=_bpe_docs, steps=st.integers(1, 3))
def test_bpe_encode_report_equals_reference_encoder(spark_prop, docs, steps):
    """Per-document encoded token counts must equal an independent
    pure-Python encoder applying the same trained merges — including
    the overlap case ('a a a' -> 2 tokens, greedy left-to-right) and
    docs that contain tokens equal to earlier merge outputs."""
    from flink_kafka_filter_transform_spark.operators.text import bpe_encode_report

    df = spark_prop.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)], "doc_id INT, text STRING"
    )
    got = {
        r.doc_id: (r.n_tokens_base, r.n_tokens_bpe)
        for r in bpe_encode_report(df, steps=steps).collect()
    }
    nonempty = [(i, d) for i, d in enumerate(docs) if d]
    encoded = _bpe_reference_encode(docs, steps)
    want = {
        i: (len(d), len(enc)) for (i, d), enc in zip(nonempty, encoded)
    }
    assert got == want
    for base, bpe in got.values():
        assert 1 <= bpe <= base  # merges only ever shrink


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z", "w", "v"]), min_size=3, max_size=10),
        min_size=2,
        max_size=8,
    )
)
def test_bloom_has_no_false_negatives(spark_prop, docs):
    """The Bloom guarantee: every exact hit must also be a Bloom hit
    (bloom_hits >= true_hits per document, false_positives >= 0) — on
    arbitrary corpora, whatever the eval/train split contents."""
    from flink_kafka_filter_transform_spark.operators.sketch import (
        bloom_contamination,
    )

    df = spark_prop.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)], "doc_id INT, text STRING"
    )
    rows = bloom_contamination(df, n=3, eval_mod=2).collect()
    for r in rows:
        assert r.bloom_hits >= r.true_hits
        assert r.false_positives >= 0
        assert r.n_grams >= r.bloom_hits


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=_bpe_docs, steps=st.integers(1, 3))
def test_bpe_encode_is_lossless(spark_prop, docs, steps):
    """Encoding must be reversible: expanding every merged token
    (\\x1e -> space) restores the original token stream exactly — the
    merge markers carry full provenance, so a tokenized corpus can
    always be detokenized. Verified through the reference encoder,
    whose corpus the engine's per-doc counts already pin."""
    encoded = _bpe_reference_encode(docs, steps)
    nonempty = [d for d in docs if d]
    for original, enc in zip(nonempty, encoded):
        decoded = [part for tok in enc for part in tok.split("\x1e")]
        assert decoded == original


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(1, 40)),  # (source, n_chars)
        min_size=1,
        max_size=20,
    )
)
def test_adaptive_length_filter_equals_naive(spark_prop, rows):
    """Cutoffs must equal the naive integer ceiling-convention order
    statistic on arbitrary tiny inputs (duplicated lengths, single-doc
    sources, all-equal sources), and the kept/short/long partition must
    cover every doc exactly once."""
    from flink_kafka_filter_transform_spark.operators.text import (
        adaptive_length_filter,
    )

    df = spark_prop.createDataFrame(
        [(f"s{s}", i, n) for i, (s, n) in enumerate(rows)],
        "source STRING, doc_id INT, n_chars INT",
    )
    got = {
        r.source: (r.n_docs, r.cut_low, r.cut_high, r.n_kept, r.n_short, r.n_long)
        for r in adaptive_length_filter(df).collect()
    }

    by_src: dict[str, list[int]] = {}
    for s, n in rows:
        by_src.setdefault(f"s{s}", []).append(n)
    for src, lens in by_src.items():
        lens.sort()
        total = len(lens)

        def cut(pct):
            cume = 0
            seen = []
            for v in lens:
                cume += 1
                seen.append((v, cume))
            # min length whose FINAL cumulative count reaches pct% —
            # cumulate per distinct value, ceiling convention
            cum_by_val: dict[int, int] = {}
            c = 0
            for v in lens:
                c += 1
                cum_by_val[v] = c
            for v in sorted(cum_by_val):
                if 100 * cum_by_val[v] >= pct * total:
                    return v
            return None

        lo, hi = cut(5), cut(95)
        kept = sum(1 for v in lens if lo <= v <= hi)
        short = sum(1 for v in lens if v < lo)
        long_ = sum(1 for v in lens if v > hi)
        assert got[src] == (total, lo, hi, kept, short, long_)
        assert kept + short + long_ == total


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),                      # user
            st.sampled_from(["a", "b", "c"]),       # event type
            st.integers(0, 100),                    # minutes offset
        ),
        min_size=0,
        max_size=14,
    )
)
def test_event_path_report_equals_naive(spark_prop, rows):
    """Transition counts must equal a naive Python sessionizer+counter
    on arbitrary tiny event streams — exact-gap boundaries, ties in
    timestamps (broken by event_id), empty input."""
    from flink_kafka_filter_transform_spark.operators.relational import (
        event_path_report,
    )

    base = 1_700_000_000_000_000
    data = [
        (i, u, t, base + m * 60_000_000) for i, (u, t, m) in enumerate(rows)
    ]
    df = spark_prop.createDataFrame(
        [(i, u, t, us) for (i, u, t, us) in data],
        "event_id INT, user_id INT, event_type STRING, ts_us BIGINT",
    ).selectExpr("event_id", "user_id", "event_type", "timestamp_micros(ts_us) AS ts")
    got = {
        (r.path, r.n_paths)
        for r in event_path_report(df, k=100, gap_minutes=30, n=2).collect()
    }

    gap_us = 30 * 60 * 1_000_000
    by_user: dict[int, list[tuple[int, int, str]]] = {}
    for i, u, t, us in data:
        by_user.setdefault(u, []).append((us, i, t))
    counts: dict[str, int] = {}
    for evs in by_user.values():
        evs.sort()
        session: list[str] = []
        prev = None
        for us, _i, t in evs + [(None, None, None)]:
            if t is None or (prev is not None and us - prev > gap_us):
                for a, b in zip(session, session[1:]):
                    counts[f"{a} {b}"] = counts.get(f"{a} {b}", 0) + 1
                session = []
            if t is not None:
                session.append(t)
                prev = us
    want = set(counts.items())
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z"]), min_size=0, max_size=8),
        min_size=1,
        max_size=6,
    )
)
def test_bigram_lift_equals_naive(spark_prop, docs):
    """Lift values and the min_pair gate must equal the naive count
    formulation (min_pair=1 so tiny corpora produce rows)."""
    from flink_kafka_filter_transform_spark.operators.text import bigram_lift_top

    df = spark_prop.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)], "doc_id INT, text STRING"
    )
    got = {
        (r.gram, r.n_pair, r.c_a, r.c_b, f"{r.lift:.9g}")
        for r in bigram_lift_top(df, k=1000, min_pair=1).collect()
    }
    pairs: dict[tuple[str, str], int] = {}
    unis: dict[str, int] = {}
    n_total = 0
    t_total = 0
    for d in docs:
        for tok in d:
            unis[tok] = unis.get(tok, 0) + 1
            t_total += 1
        for a, b in zip(d, d[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
            n_total += 1
    want = set()
    for (a, b), n in pairs.items():
        lift = float(n * t_total) * float(t_total) / (
            float(n_total) * float(unis[a] * unis[b])
        )
        want.add((f"{a} {b}", n, unis[a], unis[b], f"{lift:.9g}"))
    assert got == want


def test_triangle_census_counts_each_triangle_once(spark):
    """Deterministic structural check: a planted 4-clique of
    near-identical docs plus a planted 3-chain must yield exactly
    C(4,3)=4 triangles — each counted once despite the symmetric
    wedge possibilities — and the chain contributes none."""
    from flink_kafka_filter_transform_spark.operators.dedup import minhash_lsh_pairs
    from flink_kafka_filter_transform_spark.operators.graph import neardup_triangles

    base = "alpha beta gamma delta epsilon zeta eta theta"
    toks = base.split()
    rows = []
    # 4-clique: identical docs 0..3 (jaccard 1.0 pairwise)
    for i in range(4):
        rows.append((i, base))
    # 3-chain over a DISJOINT vocabulary (sharing the clique's tokens
    # would connect the chain to every clique member): 10-11 and 11-12
    # similar, 10-12 below threshold
    chain = "one two three four five six seven eight".split()
    rows.append((10, " ".join(chain)))
    rows.append((11, " ".join(chain[:-1] + ["varA"])))
    rows.append((12, " ".join(chain[:-2] + ["varA", "varB"])))
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(df).collect()}
    clique = {(a, b) for a in range(4) for b in range(4) if a < b}
    assert clique <= pairs
    assert (10, 12) not in pairs

    out = neardup_triangles(df).collect()[0]
    # naive count over whatever pairs LSH actually emitted
    import itertools

    adj = set(pairs)
    nodes = sorted({x for p in pairs for x in p})
    want = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in adj and (b, c) in adj and (a, c) in adj
    )
    assert out.n_triangles == want == 4
    assert out.n_edges == len(pairs)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    y=st.lists(st.integers(0, 255), min_size=8, max_size=8),
    cb=st.lists(st.integers(0, 255), min_size=2, max_size=2),
    cr=st.lists(st.integers(0, 255), min_size=2, max_size=2),
)
def test_jpeg_color_roundtrip_arbitrary_blocks(y, cb, cr):
    """Color JPEG encode->decode on ARBITRARY uniform block values must
    hit the independent closed form (clamp(2*floor((v-128)/2+0.5)+128)
    per plane + exact scaled-integer JFIF RGB) — boundary DC diffs
    (0, 255, repeated values -> zero diffs) that the fixed fixture
    misses. Pure numpy; no Spark session."""
    import numpy as np

    from flink_kafka_filter_transform_spark.operators import multimodal as mm

    blob = mm.encode_jpeg_color_blocks(32, 16, y, cb, cr, q=16)
    w, h, rgb = mm.decode_jpeg_color(blob)
    assert (w, h, rgb.shape) == (32, 16, (16, 32, 3))

    def cf(v):
        return min(255, max(0, 2 * int(np.floor((v - 128) / 2 + 0.5)) + 128))

    for b in range(8):
        by, bx = divmod(b, 4)
        mi = bx // 2
        yd, cbd, crd = cf(y[b]), cf(cb[mi]), cf(cr[mi])
        r = min(255, max(0, (1000 * yd + 1402 * (crd - 128) + 500) // 1000))
        g = min(255, max(0, (1000000 * yd - 344136 * (cbd - 128)
                             - 714136 * (crd - 128) + 500000) // 1000000))
        bl = min(255, max(0, (1000 * yd + 1772 * (cbd - 128) + 500) // 1000))
        blk = rgb[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8]
        assert (blk == np.array([r, g, bl], dtype=np.uint8)).all(), (b, (r, g, bl))


def test_substring_dedup_exact_copy_spans_whole_doc(spark):
    """An exact duplicate pair shares EVERY 32-char window, so the
    longest duplicated run covers the full text (max run + 31 = len);
    a doc sharing nothing reports zeros; docs shorter than the window
    are excluded (no window opens)."""
    from flink_kafka_filter_transform_spark.operators.dedup import (
        substring_dedup_stats,
    )

    dup = "the quick brown fox jumps over the lazy dog again and again"  # 60 chars
    uniq = "совершенно другой текст without any shared span at all here ok"
    rows = [(0, dup), (1, dup), (2, uniq), (3, "short doc")]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {r["doc_id"]: r for r in substring_dedup_stats(docs, k=32).collect()}
    assert set(got) == {0, 1, 2}  # doc 3 (< 32 chars) has no window
    for d in (0, 1):
        r = got[d]
        assert r["n_windows"] == len(dup) - 31
        assert r["n_shared_windows"] == r["n_windows"]
        assert r["shared_window_fraction"] == 1.0
        assert r["max_shared_substr_chars"] == len(dup)
    assert got[2]["n_shared_windows"] == 0
    assert got[2]["max_shared_substr_chars"] == 0


def test_substring_dedup_partial_overlap_localizes_run(spark):
    """Two docs sharing one embedded 40-char span (different
    surroundings) report exactly that span's length as the longest
    duplicated substring: run = 40 - 32 + 1 = 9 consecutive shared
    windows -> 9 + 31 = 40 chars."""
    from flink_kafka_filter_transform_spark.operators.dedup import (
        substring_dedup_stats,
    )

    span = "SHARED-BOILERPLATE-SPAN-OF-40-CHARSxxxx!"  # exactly 40 chars
    assert len(span) == 40
    # adjacent chars differ on BOTH sides in both docs — shared
    # substring is exactly the span (a shared delimiter would extend it)
    a = "a" * 20 + span + "b" * 20
    b = "c" * 20 + span + "d" * 20
    docs = spark.createDataFrame(
        [(0, a), (1, b)], "doc_id BIGINT, text STRING"
    )
    got = {r["doc_id"]: r for r in substring_dedup_stats(docs, k=32).collect()}
    assert got[0]["max_shared_substr_chars"] == 40
    assert got[1]["max_shared_substr_chars"] == 40
    assert 0 < got[0]["n_shared_windows"] < got[0]["n_windows"]


def test_winnowing_guarantee_shared_span_yields_shared_fingerprint(spark):
    """The winnowing guarantee (Schleimer et al. 2003): any substring
    of length >= w + k - 1 shared by two documents contributes at
    least one identical fingerprint to both — so two docs sharing a
    23-char span (k=8, w=16 -> threshold 23) must BOTH report
    n_shared_fingerprints >= 1, while docs sharing nothing report 0."""
    from flink_kafka_filter_transform_spark.operators.dedup import winnowing_overlap

    span = "GUARANTEED-SHARED-SPAN!"  # 23 chars = w + k - 1
    assert len(span) == 23
    a = "x" * 30 + span + "y" * 30
    b = "p" * 30 + span + "q" * 30
    c = "totally unrelated content with zero overlapping substrings at all"
    docs = spark.createDataFrame(
        [(0, a), (1, b), (2, c)], "doc_id BIGINT, text STRING"
    )
    got = {r["doc_id"]: r for r in winnowing_overlap(docs, k=8, w=16).collect()}
    assert got[0]["n_shared_fingerprints"] >= 1
    assert got[1]["n_shared_fingerprints"] >= 1
    assert got[2]["n_shared_fingerprints"] == 0
    # density: winnowing stores far fewer fingerprints than positions
    assert got[0]["n_fingerprints"] < len(a) - 7


def test_audio_frame_features_match_direct_decode(spark):
    """Frame features recomputed directly from the fixture's closed
    form (numpy) must equal the operator's decode-path output for a
    couple of WAV doc_ids — pinning the frame split, the int64 energy
    sums, and the strict-sign-flip crossing rule."""
    import numpy as np

    from flink_kafka_filter_transform_spark.operators import multimodal as mm

    docs = spark.createDataFrame([(1,), (7,)], "doc_id BIGINT").withColumn(
        "text", F.lit("x")
    )
    got = {
        (r["doc_id"], r["frame_idx"]): (r["energy_sum"], r["zero_crossings"])
        for r in mm.audio_frame_features(docs).collect()
    }
    want = {}
    for d in (1, 7):
        n = mm.WAV_N_BASE + d % mm.WAV_N_MOD
        i = np.arange(n)
        s = ((d * mm.WAV_SAMP_A + i * mm.WAV_SAMP_B) % 65536 - 32768).astype(np.int64)
        nf = n // mm.AUDIO_FRAME
        fr = s[: nf * mm.AUDIO_FRAME].reshape(nf, mm.AUDIO_FRAME)
        for fi in range(nf):
            want[(d, fi)] = (
                int((fr[fi] * fr[fi]).sum()),
                int(((fr[fi, :-1] * fr[fi, 1:]) < 0).sum()),
            )
    assert got == want and len(got) >= 6


def test_containment_catches_asymmetric_pair_jaccard_misses(spark):
    """The operator's reason to exist: doc 0's tokens appear verbatim
    inside the much larger doc 1, so containment(0->1) = 1.0 while
    the pair's Jaccard (~|A|/|B|) sits far below JACCARD_THRESHOLD —
    minhash_lsh_pairs' verify filter would deterministically exclude
    it even when LSH banding happens to collide. Unrelated doc 2
    produces no pair. Direction matters: (1->0) fails the threshold
    because only a small fraction of doc 1 is covered by doc 0."""
    from flink_kafka_filter_transform_spark.operators.dedup import containment_pairs

    small = " ".join(f"tok{i}" for i in range(20))
    big = small + " " + " ".join(f"filler{i}" for i in range(200))
    other = " ".join(f"zzz{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(0, small), (1, big), (2, other)], "doc_id BIGINT, text STRING"
    )
    rows = {(r["doc_a"], r["doc_b"]): r for r in containment_pairs(docs).collect()}
    assert (0, 1) in rows
    r = rows[(0, 1)]
    assert r["containment"] == 1.0
    assert r["n_common"] == r["n_a"] == 18  # 20 tokens -> 18 3-shingles
    assert (1, 0) not in rows  # asymmetry
    assert all(2 not in p for p in rows)
    # and the Jaccard of the caught pair really is below the minhash
    # verify threshold (the deterministic "LSH would drop it" claim):
    from flink_kafka_filter_transform_spark.operators import params

    n_b = 219  # 221 tokens -> 219 shingles, all distinct
    assert 18 / n_b < params.JACCARD_THRESHOLD


def test_containment_integer_threshold_boundary_exact(spark):
    """t = 4/5 exactly: a doc whose shingle set overlaps the container
    in exactly 4/5 of its shingles is IN (n_common*5 == n_a*4), one
    shingle fewer is OUT — the integer filter has no float boundary.
    Construct doc a with 10 shingles (12 tokens), doc b containing 8
    of them: 8*5 >= 10*4 passes; doc c containing 7: fails."""
    from flink_kafka_filter_transform_spark.operators.dedup import containment_pairs

    # tokens t0..t11 -> shingles (t0 t1 t2) .. (t9 t10 t11): 10 shingles
    a = " ".join(f"t{i}" for i in range(12))
    # b: t0..t9 (8 shingles of a) plus disjoint padding so b is bigger
    b = " ".join(f"t{i}" for i in range(10)) + " " + " ".join(f"p{i}" for i in range(30))
    # c: t0..t8 (7 shingles of a) plus padding
    c = " ".join(f"t{i}" for i in range(9)) + " " + " ".join(f"q{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(0, a), (1, b), (2, c)], "doc_id BIGINT, text STRING"
    )
    pairs = {(r["doc_a"], r["doc_b"]): r for r in containment_pairs(docs).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)]["n_common"] == 8
    assert (0, 2) not in pairs


def test_split_leakage_report_invariants(spark, sf_dir):
    """Conservation + repair invariants on the real corpus: the repair
    only MOVES docs (naive and final doc totals agree, moved-in equals
    moved-out globally), the repaired split leaks ZERO pairs (each
    pair's endpoints share a cluster root, hence a split), and the
    naive per-split doc counts equal documents_split_summary's."""
    from flink_kafka_filter_transform_spark.operators.sampling import (
        documents_split_summary,
        split_leakage_report,
    )
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir)
    rows = split_leakage_report(docs).collect()
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    assert all(r["leaked_pairs_final"] == 0 for r in rows)
    assert sum(r["n_docs_naive"] for r in rows) == sum(r["n_docs_final"] for r in rows)
    assert sum(r["n_moved_in"] for r in rows) == sum(r["n_moved_out"] for r in rows)
    # a leaked pair is counted under each of its two splits
    assert sum(r["leaked_pairs_naive"] for r in rows) % 2 == 0
    base = {r["split"]: r["n_docs"] for r in documents_split_summary(docs).collect()}
    got = {r["split"]: r["n_docs_naive"] for r in rows}
    assert got == base


def test_winnowing_pairs_guarantee_and_identity_score(spark):
    """Pair-grain winnowing guarantee: docs sharing a >= w+k-1 char
    span must appear as a pair with n_shared_fps >= 1; identical docs
    score match_score == 1.0 and rank first; unrelated docs pair with
    nobody."""
    from flink_kafka_filter_transform_spark.operators.dedup import winnowing_pairs

    span = "GUARANTEED-SHARED-SPAN!"  # 23 = w + k - 1 at k=8, w=16
    a = "x" * 30 + span + "y" * 30
    b = "p" * 30 + span + "q" * 30
    docs = spark.createDataFrame(
        [(0, a), (1, b), (2, a), (3, "totally unrelated filler content here")],
        "doc_id BIGINT, text STRING",
    )
    rows = winnowing_pairs(docs, k=8, w=16).collect()
    got = {(r["doc_a"], r["doc_b"]): r for r in rows}
    assert (0, 1) in got and got[(0, 1)]["n_shared_fps"] >= 1
    assert (0, 2) in got and got[(0, 2)]["match_score"] == 1.0  # identical docs
    assert all(3 not in p for p in got)
    # ranking: the identical pair shares every fingerprint, so it
    # leads the (n_shared desc, doc_a, doc_b) total order
    assert (rows[0]["doc_a"], rows[0]["doc_b"]) == (0, 2)


def test_gopher_rules_each_rule_fires_independently(spark):
    """Four hand-built documents, each engineered to trip a known
    subset of the five Gopher rules — the per-rule counts must match
    the hand computation exactly (every boundary is an integer
    comparison, so there is no tolerance)."""
    from flink_kafka_filter_transform_spark.operators.text import gopher_quality_rules

    # doc 0: 60 tokens, mean len in [3,10], alphabetic, "the"+"a"
    #        present -> passes every rule
    good = "the a " + " ".join(["data"] * 58)
    # doc 1: 10 tokens (fails word_count only; stopwords still ok)
    short = "the a " + " ".join(["data"] * 8)
    # doc 2: 60 '##' tokens -> fails mean_word_length (2 < 3),
    #        symbol_ratio (120 hashes), alpha_words, stopwords
    hashes = " ".join(["##"] * 60)
    # doc 3: 60 numeric tokens -> fails alpha_words + stopwords
    nums = " ".join(["12345"] * 60)
    docs = spark.createDataFrame(
        [(0, good), (1, short), (2, hashes), (3, nums)],
        "doc_id BIGINT, text STRING",
    )
    got = {r["rule"]: r["n_docs"] for r in gopher_quality_rules(docs).collect()}
    assert got == {
        "all": 4,
        "word_count": 1,       # doc 1
        "mean_word_length": 1, # doc 2
        "symbol_ratio": 1,     # doc 2
        "alpha_words": 2,      # docs 2, 3
        "stopwords": 2,        # docs 2, 3
        "pass_all": 1,         # doc 0
    }


def test_vocab_growth_curve_conserves_types_and_tokens(spark, sf_dir):
    """Bucket-local new_types must sum to the corpus type count, both
    cumulative curves must be monotone and end at the global totals,
    and a token type is counted ONLY in its first bucket."""
    from flink_kafka_filter_transform_spark.operators.text import tokens, vocab_growth_curve
    from flink_kafka_filter_transform_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "documents", sf_dir, rebalance=False)
    rows = sorted(vocab_growth_curve(docs).collect(), key=lambda r: r["bucket"])
    toks = docs.select(F.explode(tokens()).alias("t"))
    n_types = toks.select("t").distinct().count()
    n_tokens = toks.count()
    assert sum(r["new_types"] for r in rows) == n_types
    assert rows[-1]["cum_types"] == n_types
    assert rows[-1]["cum_tokens"] == n_tokens
    for prev, cur in zip(rows, rows[1:]):
        assert cur["cum_tokens"] == prev["cum_tokens"] + cur["bucket_tokens"]
        assert cur["cum_types"] == prev["cum_types"] + cur["new_types"]


def test_knn_ivf_pq_rerank_is_exact_over_the_shortlist(spark, sf_dir):
    """The refine stage's output must (a) be a subset of the ADC
    shortlist it re-ranks, and (b) carry the TRUE squared L2 distance
    for every surviving pair — recomputed here with numpy."""
    from flink_kafka_filter_transform_spark.operators import kmeans
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    emb = load_table(spark, "embeddings", sf_dir, rebalance=False)
    shortlist = {
        (r["q_id"], r["vec_id"])
        for r in kmeans.knn_ivf_pq(emb, topk=40).collect()
    }
    rer = kmeans.knn_ivf_pq_rerank(emb, topk=10, shortlist_mult=4).collect()
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    for r in rer:
        assert (r["q_id"], r["vec_id"]) in shortlist
        true_d2 = sum(
            (float(x) - float(y)) ** 2
            for x, y in zip(vecs[r["q_id"]], vecs[r["vec_id"]])
        )
        assert abs(r["exact_d2"] - true_d2) < 1e-6 * max(true_d2, 1.0)
    # per query the ranks are 1..k over ascending exact_d2
    by_q: dict = {}
    for r in rer:
        by_q.setdefault(r["q_id"], []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert all(a["exact_d2"] <= b["exact_d2"] for a, b in zip(rs, rs[1:]))


def test_fps_driver_seeds_equal_distributed_walk(spark, monkeypatch):
    """The farthest-point driver fast path must pick the same seeds as
    the distributed per-round walk (forced with FPS_DRIVER_ROWS_CAP = 0),
    ties included; a NULL vector or NULL coordinate must not crash the
    fast path but fall back to that walk."""
    from flink_kafka_filter_transform_spark.operators import kmeans

    # a 4x4 grid: equal distances everywhere, so every round's argmax
    # is decided by the vec_id tie-break
    finite = [(i, [float(i % 4), float(i // 4), 0.5]) for i in range(16)]
    with_nulls = finite + [(16, None), (17, [1.0, None, 0.0])]

    def seeds(rows, k):
        vecs = spark.createDataFrame(rows, "vec_id BIGINT, v ARRAY<DOUBLE>")
        out = kmeans.farthest_point_seeds(vecs, k).orderBy("cid").collect()
        return [(r["cid"], r["vec_id"], r["centroid"]) for r in out]

    driver = kmeans._fps_driver_seeds(sorted(finite), 6)
    fast_nulls = seeds(with_nulls, 6)
    monkeypatch.setattr(kmeans, "FPS_DRIVER_ROWS_CAP", 0)
    assert driver == seeds(finite, 6)
    assert fast_nulls == seeds(with_nulls, 6)
    assert [vid for _, vid, _ in fast_nulls] == [vid for _, vid, _ in driver]


def test_with_best_cell_empty_codebook_fails_on_both_paths(spark):
    """An empty codebook is an error on both assignment paths: the
    literal list raises while the plan is built, and the broadcast
    DataFrame fails inside the plan instead of giving every row a NULL
    cid. An empty corpus against it still yields no rows."""
    import pytest

    from flink_kafka_filter_transform_spark.operators import kmeans

    vecs = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0])], "vec_id BIGINT, v ARRAY<DOUBLE>"
    )
    empty = spark.createDataFrame([], "cid BIGINT, centroid ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="empty codebook"):
        kmeans._with_best_cell(vecs, [])
    with pytest.raises(Exception, match="empty codebook"):
        kmeans._with_best_cell(vecs, empty).collect()
    assert kmeans._with_best_cell(vecs.filter(F.col("vec_id") < 0), empty).collect() == []


def test_kcore_peels_chains_keeps_cliques(spark):
    """The semantic distinction the operator exists for: a triangle
    (clique) survives 2-core peeling wholesale; a chain hanging off
    it peels away vertex by vertex — including the chain's attachment
    making a second-round peel (0-1-2 triangle, 2-3-4 tail: 3 has
    degree 2 until 4 peels, so convergence needs the ITERATION)."""
    from flink_kafka_filter_transform_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)], "src BIGINT, dst BIGINT"
    )
    verts = spark.createDataFrame([(i,) for i in range(5)], "id BIGINT")
    got = {r["id"]: (r["in_kcore"], r["core_degree"]) for r in kcore(verts, edges, k=2).collect()}
    assert got == {
        0: (True, 2),
        1: (True, 2),
        2: (True, 2),   # its third edge (to 3) is outside the core
        3: (False, 0),
        4: (False, 0),
    }


def test_knn_sq8_codes_bounded_and_self_distance_zero(spark, sf_dir):
    """SQ8 invariants: every code lies in [0, 255]; two identical
    vectors necessarily share codes, so their quantized distance is
    exactly 0; per-query ranks are dense 1..k over ascending sq8_d2."""
    from flink_kafka_filter_transform_spark.operators import similarity
    from flink_kafka_filter_transform_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "embeddings", sf_dir, rebalance=False)
    stats = similarity._sq8_stats(emb)
    codes = similarity._sq8_codes(emb, stats)
    bad = codes.filter(
        F.exists("c", lambda x: (x < 0) | (x > 255))
    ).count()
    assert bad == 0
    rows = similarity.knn_sq8(emb).collect()
    by_q: dict = {}
    for r in rows:
        assert r["sq8_d2"] >= 0.0
        by_q.setdefault(r["q_id"], []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert all(a["sq8_d2"] <= b["sq8_d2"] for a, b in zip(rs, rs[1:]))
    # identical vectors -> distance 0: duplicate vec 0 as a synthetic row
    dup = emb.filter(F.col("vec_id") == 0).withColumn(
        "vec_id", F.lit(10_000_000)
    )
    emb2 = emb.unionByName(dup)
    got = {
        (r["q_id"], r["vec_id"]): r["sq8_d2"]
        for r in similarity.knn_sq8(emb2).collect()
    }
    assert got.get((0, 10_000_000)) == 0.0


def test_hopping_window_overlap_factor_exact(spark, sf_dir):
    """1-hour windows on a 30-minute hop: every event lies in EXACTLY
    size/slide = 2 windows, so the rollup's totals are exactly twice
    the corpus totals; window bounds are 1 h apart and 30-min
    aligned."""
    from flink_kafka_filter_transform_spark.operators.relational import (
        events_hopping_window,
    )
    from flink_kafka_filter_transform_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    events = load_table(spark, "events", sf_dir, rebalance=False)
    rows = events_hopping_window(events).collect()
    assert sum(r["n_events"] for r in rows) == 2 * events.count()
    for r in rows:
        assert r["window_start"].endswith(":00:00") or r["window_start"].endswith(":30:00")
        assert r["window_end"] > r["window_start"]


def test_retention_cohorts_triangle_invariants(spark, sf_dir):
    """Retention can only shrink or hold: no cell exceeds its cohort's
    k=0 size; k=0 cell counts equal the number of users first seen
    that day; k is never negative."""
    from flink_kafka_filter_transform_spark.operators.relational import (
        events_retention_cohorts,
    )
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    events = load_table(spark, "events", sf_dir, rebalance=False)
    rows = events_retention_cohorts(events).collect()
    size = {r["cohort_day"]: r["n_active"] for r in rows if r["k"] == 0}
    for r in rows:
        assert r["k"] >= 0
        assert r["cohort_day"] in size  # every cohort has its k=0 row
        assert r["n_active"] <= size[r["cohort_day"]]


def test_doc_text_knn_identical_docs_rank_first(spark):
    """Two identical documents must find each other at cos_sim 1.0
    rank 1 (integer dot == integer norm product), and a disjoint-vocab
    document shares no hash bucket signs systematically — its cos_sim
    against the pair stays below 1."""
    from flink_kafka_filter_transform_spark.operators.text import doc_text_knn

    a = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(0, a), (5, a), (6, "totally different words entirely here now")],
        "doc_id BIGINT, text STRING",
    )
    rows = doc_text_knn(docs, k=2).collect()
    got = {(r["q_id"], r["doc_id"]): r for r in rows}
    assert got[(0, 5)]["rank"] == 1
    assert got[(0, 5)]["cos_sim"] == 1.0


def test_substring_rewrite_exact_copy_empties_later_doc(spark):
    """Lee et al. span removal at the extreme: an exact duplicate pair
    shares every window, so the LATER doc collapses to '' while the
    FIRST-occurrence doc passes through verbatim; an unrelated doc and
    a sub-window doc are untouched."""
    from flink_kafka_filter_transform_spark.operators.dedup import (
        substring_dedup_rewrite,
    )

    dup = "the quick brown fox jumps over the lazy dog again and again"
    uniq = "совершенно другой текст without any shared span at all here ok"
    rows = [(0, dup), (1, dup), (2, uniq), (3, "short doc")]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {
        r["doc_id"]: r
        for r in substring_dedup_rewrite(docs, k=32, skew_safe=False).collect()
    }
    assert set(got) == {0, 1, 2, 3}  # every doc is re-emitted
    assert got[0]["clean_text"] == dup and got[0]["chars_removed"] == 0
    assert got[1]["clean_text"] == "" and got[1]["clean_chars"] == 0
    assert got[1]["chars_removed"] == len(dup)
    assert got[1]["n_spans_removed"] == 1
    assert got[2]["clean_text"] == uniq
    assert got[3]["clean_text"] == "short doc"  # < k: no window opens


def test_substring_rewrite_splices_embedded_span(spark):
    """A 40-char span shared at different offsets is cut from the
    later doc EXACTLY (closed-form splice: surroundings survive, the
    covered chars [first cut pos, last cut pos + k - 1] go), keeping
    the first-occurrence doc verbatim."""
    from flink_kafka_filter_transform_spark.operators.dedup import (
        substring_dedup_rewrite,
    )

    span = "SHARED-BOILERPLATE-SPAN-OF-40-CHARSxxxx!"
    assert len(span) == 40
    a = "a" * 20 + span + "b" * 20
    b = "c" * 20 + span + "d" * 20
    docs = spark.createDataFrame(
        [(0, a), (1, b)], "doc_id BIGINT, text STRING"
    )
    got = {
        r["doc_id"]: r
        for r in substring_dedup_rewrite(docs, k=32, skew_safe=False).collect()
    }
    assert got[0]["clean_text"] == a  # first occurrence keeps its copy
    # doc 1: shared windows start at positions 21..29 (inside the
    # span), covering chars [21, 29 + 31] = the span exactly
    assert got[1]["clean_text"] == "c" * 20 + "d" * 20
    assert got[1]["chars_removed"] == 40
    assert got[1]["n_spans_removed"] == 1
    # profile arithmetic holds: clean + removed = orig
    assert got[1]["clean_chars"] + got[1]["chars_removed"] == got[1]["orig_chars"]


def test_substring_rewrite_merges_overlapping_islands(spark):
    """Two cut runs whose k-char coverage overlaps (cut positions p
    and p' with p < p' <= p + k) must merge into ONE removed interval
    — the lag-rule merge, exercised by a doc where a kept position
    separates two shared runs by less than k chars."""
    from flink_kafka_filter_transform_spark.operators.dedup import (
        substring_dedup_rewrite,
    )

    # S is 42 chars; doc 0 carries S's first 32 chars, doc 1 its last
    # 32 (10-char shift), doc 2 carries S whole — so doc 2's cut
    # positions are 21 (vs doc 0) and 31 (vs doc 1): 10 apart, their
    # k-char coverage overlaps, ONE merged interval covering S exactly
    # must come out.
    S = "QWERTYUIOPASDFGHJKLZXCVBNM1234567890qwerty"
    assert len(S) == 42
    blk1, blk2 = S[:32], S[10:]
    d0 = "x" * 40 + blk1 + "y" * 40
    d1 = "u" * 40 + blk2 + "v" * 40
    d2 = "m" * 20 + S + "n" * 20
    docs = spark.createDataFrame(
        [(0, d0), (1, d1), (2, d2)], "doc_id BIGINT, text STRING"
    )
    got = {
        r["doc_id"]: r
        for r in substring_dedup_rewrite(docs, k=32, skew_safe=False).collect()
    }
    assert got[2]["n_spans_removed"] == 1  # merged, not two islands
    assert got[2]["clean_text"] == "m" * 20 + "n" * 20
    assert got[2]["chars_removed"] == 42
    assert got[0]["clean_text"] == d0  # each block's first occurrence
    assert got[1]["clean_text"] == d1


def test_substring_rewrite_strategies_agree(spark, sf_dir):
    """Window and skew-safe cut-marking are plans over one semantics —
    identical rows on the fixture corpus (parity covers the default
    path; this pins the escape hatch AND the auto gate's no-flip
    branch to it)."""
    from flink_kafka_filter_transform_spark.operators import dedup
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", sf_dir)
    a = (
        dedup.substring_dedup_rewrite(docs, skew_safe=False)
        .orderBy("doc_id")
        .collect()
    )
    b = (
        dedup.substring_dedup_rewrite(docs, skew_safe=True)
        .orderBy("doc_id")
        .collect()
    )
    assert a == b and len(a) > 0


def test_url_canonicalize_rules_fire(spark):
    """Each canonicalization rule on a known doc_id residue: scheme/
    host case, www, default vs non-default port, index.html and
    trailing slash, tracking-param removal, fragment removal."""
    from flink_kafka_filter_transform_spark.operators.web import url_canonicalize

    docs = spark.createDataFrame(
        [
            (i, "t", "en", f"src{i}", 1)
            for i in (0, 1, 2, 3, 4, 5, 6, 7, 20, 21, 22, 23)
        ],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    got = {r["doc_id"]: r for r in url_canonicalize(docs).collect()}
    # group g=0 (docs 0-3, http, no query): trailing slash (v0),
    # HTTP-case+www+index.html (v1), upper-host+:80+#top (v2, g%8=0),
    # utm-only query+#sec2 (v3) ALL collapse to one canonical
    for i in (0, 1, 2, 3):
        assert got[i]["canonical_url"] == "http://h0.example.com/page0"
        assert got[i]["host"] == "h0.example.com"
    # the four raw spellings are genuinely distinct
    assert len({got[i]["url"] for i in (0, 1, 2, 3)}) == 4
    # group g=1 (docs 4-7, https, ref=1 query): ref&utm_campaign (v0),
    # HTTPS+www (v1), upper-host+:443 (v2), utm_source-first (v3)
    for i in (4, 5, 6, 7):
        assert got[i]["canonical_url"] == "https://h0.example.com/page1?ref=1"
    assert len({got[i]["url"] for i in (4, 5, 6, 7)}) == 4
    # group g=5 (docs 20-23): NON-default :8080 survives in canonical
    for i in (20, 21, 22, 23):
        assert got[i]["canonical_url"] == "https://h1.example.com:8080/page5"
        assert got[i]["host"] == "h1.example.com"


def test_url_canonical_dedup_groups_of_four(spark):
    """Corpus-cardinality fixture: each consecutive doc quad is ONE
    canonical group under four distinct raw spellings — with 420 docs
    that is 105 groups of exactly 4, survivor = the quad's first
    doc_id, and the canonical-URL space GROWS with the corpus (the
    r11 rework's whole point)."""
    from flink_kafka_filter_transform_spark.operators.web import (
        url_canonical_dedup,
    )

    docs = spark.createDataFrame(
        [(i, "t", "en", f"src{i % 20}", 1) for i in range(420)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    rows = url_canonical_dedup(docs).collect()
    assert len(rows) == 105
    assert all(r["n_docs"] == 4 for r in rows)
    assert all(r["n_raw_variants"] == 4 for r in rows)
    assert {r["first_doc_id"] for r in rows} == set(range(0, 420, 4))


def test_normalized_exact_dedup_collapses_reformatting(spark):
    """Case, punctuation, and whitespace reformattings of one text
    must land in ONE normalized group (n_copies 3, all raw spellings
    distinct, min-doc survivor), while a different text stays its own
    group — the copy class exact_dedup misses by construction."""
    from flink_kafka_filter_transform_spark.operators.dedup import (
        normalized_exact_dedup,
    )

    rows = [
        (0, "Hello, World!  This is FINE."),
        (1, "hello world this is fine"),
        (2, "HELLO  WORLD -- this is... fine"),
        (3, "a different document entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = sorted(
        normalized_exact_dedup(docs).collect(), key=lambda r: r["keep_doc_id"]
    )
    assert len(got) == 2
    big, single = got
    assert big["n_copies"] == 3
    assert big["n_raw_variants"] == 3
    assert big["keep_doc_id"] == 0
    assert single["n_copies"] == 1 and single["keep_doc_id"] == 3


def test_url_blocklist_first_match_partitions_corpus(spark):
    """First-match-wins semantics: the per-rule counts partition the
    corpus (all = sum of blocked + allowed), and each rule's count
    matches its residue class minus earlier-rule captures."""
    from flink_kafka_filter_transform_spark.operators.web import (
        url_blocklist_report,
    )

    docs = spark.createDataFrame(
        [(i, "t", "en", f"src{i % 20}", 1) for i in range(420)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    got = {r["rule"]: r["n_docs"] for r in url_blocklist_report(docs).collect()}
    assert got["all"] == 420
    assert (
        got["blocked_mirror_host"]
        + got["blocked_spam_path"]
        + got["blocked_param"]
        + got["allowed"]
        == 420
    )
    # rule 1 (host id ends in 3): host ids 3 and 13 in range (23 needs
    # doc 460+) -> docs 60-79 and 260-279 -> 40
    assert got["blocked_mirror_host"] == 40
    # rule 2 (page id ends in 7): g in {7,17,..,97} is 10 groups; g=17
    # (docs 68-71) and g=67 (docs 268-271) already taken by rule 1 ->
    # 8 groups x 4 docs
    assert got["blocked_spam_path"] == 32
    # rule 3 (ref=4): ref present iff g%3==1 and equal to 4 iff
    # g%20==4 -> g ≡ 4 (mod 60): g in {4, 64} -> 8 docs, neither in
    # an earlier rule's class
    assert got["blocked_param"] == 8
    assert got["allowed"] == 420 - 40 - 32 - 8


def test_semdedup_text_prune_drops_exact_copy(spark):
    """Closed-form corpus: an exact duplicate pair lands on identical
    hash vectors (cosine 1.0 >= threshold) so exactly one of the two
    is pruned (tie rule keeps the lower doc_id), while vocabulary-
    disjoint docs survive — and the ledger covers every doc."""
    from flink_kafka_filter_transform_spark.operators.dedup import (
        semdedup_text_prune,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta " * 3),
        (1, "alpha beta gamma delta epsilon zeta " * 3),
        (2, "mercury venus orbit planet telescope astronomy"),
        (3, "crimson harvest tractor field barley oats"),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = semdedup_text_prune(docs).collect()
    assert sum(r["n_vectors"] for r in got) == 4
    assert sum(r["n_dropped"] for r in got) == 1


def test_semdedup_text_dense_checkpoint_spread(spark, monkeypatch):
    """The densified vector relation must be re-spread to the compute
    width (defaultParallelism) BEFORE its localCheckpoint freezes the
    layout (r14, guide §2.5/§2.2): AQE's bytes-based coalescing sees a
    few MB post-aggregate and collapses to one partition, but the
    checkpoint pins that layout for the quadratic within-cell pair
    join downstream — the whole semdedup chain ran serially (16-19 s
    at sf0.1 vs ~2 s spread). Spied via localCheckpoint: the FIRST
    checkpoint inside semdedup_text_prune is the dense relation."""
    # patch the CONCRETE class (Spark 4: pyspark.sql.DataFrame is the
    # abstract base; sessions hand out classic.dataframe.DataFrame,
    # whose own localCheckpoint would shadow a base-class patch)
    from pyspark.sql.classic.dataframe import DataFrame

    from flink_kafka_filter_transform_spark.operators.dedup import (
        semdedup_text_prune,
    )

    counts = []
    orig = DataFrame.localCheckpoint

    def spy(self, eager=True):
        out = orig(self, eager=eager)
        counts.append(out.rdd.getNumPartitions())
        return out

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("tok"),
            (F.col("id") % 37).cast("string"),
            F.lit(" word "),
            (F.col("id") % 11).cast("string"),
        ).alias("text"),
    )
    semdedup_text_prune(docs)
    assert counts, "dense relation was not checkpointed"
    assert counts[0] == spark.sparkContext.defaultParallelism


def test_char_entropy_profile_closed_forms(spark):
    """Exact whole-bit entropy bounds on closed-form docs: a
    single-char doc costs 0 bits, a 2-symbol balanced doc exactly 1
    bit/char, a 4-distinct-char doc exactly 2 bits/char — and the
    repetitive doc scores LOWEST, the compressibility ordering the
    signal exists to provide."""
    from flink_kafka_filter_transform_spark.operators.text import (
        char_entropy_profile,
    )

    docs = spark.createDataFrame(
        [(0, "aaaa"), (1, "abab"), (2, "abcd")],
        "doc_id BIGINT, text STRING",
    )
    got = {r["doc_id"]: r for r in char_entropy_profile(docs).collect()}
    assert got[0]["entropy_bits"] == 0 and got[0]["millibits_per_char"] == 0
    assert got[1]["entropy_bits"] == 4 and got[1]["millibits_per_char"] == 1000
    assert got[2]["entropy_bits"] == 8 and got[2]["millibits_per_char"] == 2000
    assert got[0]["n_distinct_chars"] == 1 and got[2]["n_distinct_chars"] == 4
    assert (
        got[0]["millibits_per_char"]
        < got[1]["millibits_per_char"]
        < got[2]["millibits_per_char"]
    )


def test_dedup_cascade_funnel_monotone_and_rules(spark):
    """Cascade semantics on a closed-form corpus: the funnel is
    monotone non-increasing; URL dedup keeps the min doc of each
    canonical group; the normalized stage collapses a reformatted
    copy AMONG URL SURVIVORS; and a doc whose only near-dup partner
    was already dropped at an earlier stage SURVIVES stage 3 (the
    pair rule consults stage-2 survivors, not the raw pair list)."""
    from flink_kafka_filter_transform_spark.operators.dedup import (
        dedup_cascade_report,
    )

    # doc_ids chosen in the same doc_id-DIV-4 quad: (0, 1) share a
    # canonical URL; 1 is dropped at stage 1 regardless of content.
    # Docs 4 and 8 are reformatted copies (normalized-equal) on
    # DIFFERENT canonical urls (groups 1 and 2) -> both survive stage
    # 1, doc 8 drops at stage 2.
    base = "spark filter window batch stream merge sort join hash scan " * 4
    rows = [
        (0, base + "alpha"),
        (1, "totally different content that only shares its url group"),
        (4, "Hello, World! This is fine. " + base),
        (8, "hello world this is fine " + base),
        (12, "unique content about completely other topics and words here"),
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", f"src{i % 20}", len(t)) for i, t in rows],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    got = {r["stage_no"]: r for r in dedup_cascade_report(docs).collect()}
    assert got[0]["n_docs"] == 5
    assert got[1]["n_docs"] == 4          # doc 1 dropped by URL group
    assert got[2]["n_docs"] == 3          # doc 8 dropped by normalization
    assert got[3]["n_docs"] <= got[2]["n_docs"]
    assert (
        got[0]["n_chars"]
        >= got[1]["n_chars"]
        >= got[2]["n_chars"]
        >= got[3]["n_chars"]
    )


def test_table_profile_statistics_exact(spark):
    """Closed-form profile: nulls, distincts, min/max per dtype
    branch (numeric vs string), and the n_distinct < n_rows duplicate
    signal the profiler exists to surface."""
    from flink_kafka_filter_transform_spark.operators.relational import (
        table_profile,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (2, None, 3.5), (4, "b", 0.5)],
        "k BIGINT, s STRING, v DOUBLE",
    )
    got = {r["column_name"]: r for r in table_profile(df).collect()}
    assert got["k"]["n_rows"] == 4 and got["k"]["n_nulls"] == 0
    assert got["k"]["n_distinct"] == 3  # the duplicate-key signal
    assert got["k"]["min_num"] == 1.0 and got["k"]["max_num"] == 4.0
    assert got["k"]["min_str"] is None
    assert got["s"]["n_nulls"] == 1 and got["s"]["n_distinct"] == 2
    assert got["s"]["min_str"] == "a" and got["s"]["max_str"] == "b"
    assert got["s"]["min_num"] is None
    assert got["v"]["n_nulls"] == 1
    assert got["v"]["min_num"] == 0.5 and got["v"]["max_num"] == 3.5


def test_hot_gram_estimate_exact_at_full_fraction(spark):
    """The AUTO gate's probe at probe_fraction=1.0 returns EXACTLY the
    hottest gram's position count (extrapolation divides by 1): 10
    docs sharing one verbatim 32-char header contribute 10 positions
    of its single full window; the estimate must say 10, not a
    sample-noise neighborhood — pinning the arithmetic the flip
    threshold consumes."""
    from flink_kafka_filter_transform_spark.operators.dedup import (
        _hot_gram_estimate,
    )

    header = "THE-EXACT-SHARED-HEADER-32-CHARS"
    assert len(header) == 32
    rows = [(i, header + f" unique tail number {i} padding") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    assert _hot_gram_estimate(docs, 32, 1.0, 7) == 10


# ---------------------------------------------------------------------------
# Interval x interval overlap join (r10): bucketed + ownership rewrite
# vs the naive quadratic formulation on arbitrary small interval sets
# ---------------------------------------------------------------------------

_intervals = st.lists(
    # (supplier, start_day, duration) — durations up to the operator's
    # max (TRANSIT_MOD_DAYS) so bucket-boundary cases are exercised;
    # start days span NEGATIVE values (pre-1970 epoch days) since the
    # r11 floor-division fix: x DIV B would collapse days -1..-B into
    # bucket 0 and break ownership there (r10 ADVICE)
    st.tuples(st.integers(0, 2), st.integers(-40, 40), st.integers(1, 14)),
    min_size=0,
    max_size=12,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_intervals)
def test_interval_overlap_bucketing_equals_naive(spark_prop, rows):
    """Drives the operator's OWN shared machinery (rangejoin's
    overlap_bucketed/overlap_side/overlap_pred/overlap_days — the
    r11 single-source-of-truth helpers, so this test cannot validate
    a stale private copy) against a naive python reference over
    arbitrary small interval sets."""
    from flink_kafka_filter_transform_spark.operators.rangejoin import (
        overlap_bucketed,
        overlap_days,
        overlap_pred,
        overlap_side,
    )

    # naive python reference over the same intervals
    iv = [(s, i, st_, st_ + d) for i, (s, st_, d) in enumerate(rows)]
    expect = {}
    for x in range(len(iv)):
        for y in range(x + 1, len(iv)):
            a, b = iv[x], iv[y]
            if a[0] != b[0]:
                continue
            lo, hi = max(a[2], b[2]), min(a[3], b[3])
            if lo <= hi:
                days = hi - lo + 1
                n, s_, m = expect.get(a[0], (0, 0, 0))
                expect[a[0]] = (n + 1, s_ + days, max(m, days))
    df = spark_prop.createDataFrame(
        [(s, i, st_, en) for (s, i, st_, en) in iv],
        "l_suppkey INT, iid INT, start_day INT, end_day INT",
    )
    ex = overlap_bucketed(df)
    left = overlap_side(ex, "a")
    right = overlap_side(ex, "b")
    got = {
        r["suppkey"]: (r["n"], r["s"], r["m"])
        for r in (
            left.join(right, ["suppkey", "_bucket"])
            .filter((F.col("a_iid") < F.col("b_iid")) & overlap_pred())
            .select("suppkey", overlap_days().alias("d"))
            .groupBy("suppkey")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("d").alias("s"), F.max("d").alias("m"))
            .collect()
        )
    }
    assert got == expect


def test_name_edit_block_cap_headroom(spark, sf_dir):
    """EDIT_BLOCK_CAP silently drops over-cap variant blocks while the
    naive DuckDB oracle has no cap — a one-sided divergence that would
    fail the driver gate if a fixture ever produced a degenerate
    block. The docstring claims blocks stay <= ~20 on the customer
    fixture; this MEASURES it (the ASCII-pin discipline of
    test_regex_dialect.py): the largest distinct-entity variant block
    must sit far under the cap (r10 ADVICE)."""
    from flink_kafka_filter_transform_spark.operators.linkage import (
        EDIT_BLOCK_CAP,
        deletion_variants,
    )
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    cust = load_table(spark, "customer", sf_dir)
    ex = cust.select(
        F.col("c_custkey").alias("k"), F.col("c_name").alias("nm")
    ).filter(F.col("nm").isNotNull()).select(
        "k", F.explode(deletion_variants("nm")).alias("variant")
    )
    worst = (
        ex.groupBy("variant")
        .agg(F.countDistinct("k").alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    assert worst <= EDIT_BLOCK_CAP // 10, (
        f"largest variant block {worst} is within 10x of EDIT_BLOCK_CAP "
        f"{EDIT_BLOCK_CAP}: the one-sided cap divergence is no longer "
        "safely unreachable on this fixture"
    )


# ---------------------------------------------------------------------------
# Symmetric-delete record linkage (r10): exact recall for distance <= 1
# ---------------------------------------------------------------------------

_names = st.lists(
    st.text(alphabet="ab0", min_size=0, max_size=5),
    min_size=0,
    max_size=8,
)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(names=_names)
def test_edit_distance_pairs_equals_naive(spark_prop, names):
    """Deletion-neighborhood blocking has EXACT recall for d <= 1:
    engine pairs == the naive quadratic reference, including ties
    (equal strings, d=0), inserts/deletes (length +-1), and
    substitutions — over a tiny alphabet chosen to force collisions."""
    from flink_kafka_filter_transform_spark.operators.linkage import (
        edit_distance_pairs,
    )

    rows = [(i, nm) for i, nm in enumerate(names)]
    expect = {
        (a[0], b[0], _lev(a[1], b[1]))
        for x, a in enumerate(rows)
        for b in rows[x + 1 :]
        if _lev(a[1], b[1]) <= 1
    }
    df = spark_prop.createDataFrame(rows, "custkey INT, name STRING")
    got = {
        (r["a_custkey"], r["b_custkey"], r["distance"])
        for r in edit_distance_pairs(df, "custkey", "name").collect()
    }
    assert got == expect


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=_names, right=_names)
def test_cross_edit_linkage_equals_naive(spark_prop, left, right):
    """The TWO-relation variant blocking (index the right side, probe
    with left variants) has the same exact d <= 1 recall as the
    self-join case: engine pairs == the naive quadratic cross
    reference, including d=0 ties and length +-1 pairs, over the
    collision-heavy tiny alphabet. Unlike the self-join there is no
    a < b ordering — every (left, right) combination is its own
    pair."""
    from flink_kafka_filter_transform_spark.operators.linkage import (
        cross_edit_linkage,
    )

    lrows = [(i, nm) for i, nm in enumerate(left)]
    rrows = [(j, nm) for j, nm in enumerate(right)]
    expect = {
        (a[0], b[0], _lev(a[1], b[1]))
        for a in lrows
        for b in rrows
        if _lev(a[1], b[1]) <= 1
    }
    ldf = spark_prop.createDataFrame(lrows, "lkey INT, lname STRING")
    rdf = spark_prop.createDataFrame(rrows, "rkey INT, rname STRING")
    got = {
        (r["lkey"], r["rkey"], r["distance"])
        for r in cross_edit_linkage(
            ldf, rdf, "lkey", "lname", "rkey", "rname"
        ).collect()
    }
    assert got == expect



def test_interval_overlap_hot_supplier_exact(spark_prop):
    """Hot-key shape check: ONE supplier holding hundreds of mutually
    overlapping intervals (the skew case the bucketed join must
    survive — a dense supplier-fortnight cell) still produces the
    exact naive answer. 300 intervals packed into a ~60-day span give
    thousands of overlapping pairs through many bucket-boundary
    crossings; dedup correctness rests entirely on the ownership rule,
    since most pairs' intervals co-occur in SEVERAL buckets."""
    import datetime

    from flink_kafka_filter_transform_spark.operators.rangejoin import (
        interval_overlap_pairs,
    )

    rows = []  # (l_orderkey, l_linenumber, start_day) — one supplier
    for i in range(300):
        rows.append((i + 1, i % 7, (i * 7) % 60))
    # brute-force reference using the OPERATOR's duration law:
    # dur = 1 + (l_orderkey + l_linenumber) % 14
    iv = [
        (ok * 8 + ln, st, st + 1 + (ok + ln) % 14)
        for (ok, ln, st) in rows
    ]
    n_pairs = sum_days = max_days = 0
    for x in range(len(iv)):
        for y in range(x + 1, len(iv)):
            a, b = (iv[x], iv[y]) if iv[x][0] < iv[y][0] else (iv[y], iv[x])
            lo, hi = max(a[1], b[1]), min(a[2], b[2])
            if lo <= hi:
                n_pairs += 1
                sum_days += hi - lo + 1
                max_days = max(max_days, hi - lo + 1)
    li = spark_prop.createDataFrame(
        [
            (ok, 7, ln,
             datetime.datetime(1970, 1, 1) + datetime.timedelta(days=st))
            for (ok, ln, st) in rows
        ],
        "l_orderkey LONG, l_suppkey LONG, l_linenumber INT, l_shipdate TIMESTAMP",
    )
    got = interval_overlap_pairs(li).collect()
    assert len(got) == 1 and got[0]["l_suppkey"] == 7
    assert (
        got[0]["n_pairs"], got[0]["sum_overlap_days"], got[0]["max_overlap_days"]
    ) == (n_pairs, sum_days, max_days)


def test_cross_edit_linkage_rejects_shared_key_name(spark_prop):
    """A shared key column name would silently collapse the output
    schema (both keys alias to the same column) — the operator must
    refuse loudly instead."""
    import pytest

    from flink_kafka_filter_transform_spark.operators.linkage import (
        cross_edit_linkage,
    )

    df = spark_prop.createDataFrame([(1, "a")], "k INT, name STRING")
    with pytest.raises(ValueError, match="distinct key column names"):
        cross_edit_linkage(df, df, "k", "name", "k", "name")


def test_lloyd_freeze_preserves_trajectory(spark_prop):
    """The r12 per-round codebook freeze is an EXECUTION change only:
    lloyd() must walk the identical centroid trajectory as the naive
    unfrozen loop (assign/update composed lazily) — on a fixture with
    an empty-cluster round so the prev-fallback path is exercised
    too. Guards the helper against ever drifting into a semantic
    change (e.g. a round-count off-by-one or a fallback reorder)."""
    from flink_kafka_filter_transform_spark.operators.kmeans import (
        _assign,
        _update,
        lloyd,
    )

    # 8 vectors in two tight groups + seeds chosen so cluster 1 goes
    # empty after round 1 (both seeds sit in group A's hull)
    rows = [
        (0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.0, 0.1]), (3, [0.1, 0.1]),
        (4, [9.0, 9.0]), (5, [9.1, 9.0]), (6, [9.0, 9.1]), (7, [9.1, 9.1]),
    ]
    vecs = spark_prop.createDataFrame(rows, "vec_id LONG, v ARRAY<DOUBLE>")
    seeds = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("centroid")
    )
    naive = seeds
    for _ in range(3):
        naive = _update(vecs, _assign(vecs, naive), naive)
    frozen = lloyd(vecs, seeds, 3)
    a = sorted((r.cid, tuple(round(x, 12) for x in r.centroid)) for r in naive.collect())
    b = sorted((r.cid, tuple(round(x, 12) for x in r.centroid)) for r in frozen.collect())
    assert a == b


def test_html_boilerplate_block_rules_fire(spark):
    """Each boilerplate class on a known doc_id residue: nav/footer
    fall to the tag blacklist, the menu div and share bar to the
    link-density rule, the empty second paragraph to the min-length
    rule — and the content paragraphs survive with inline <b>/<a>
    markup stripped. Expected extracted text is recomputed in Python
    with the same strip/squash/trim chain the engine applies."""
    import re as _re

    from flink_kafka_filter_transform_spark.operators.web import (
        html_boilerplate_extract,
    )

    t_short = "spark " * 5  # 30 chars: p2 empty for odd ids
    t_long = ("tok " * 60).strip()  # 239 chars: real p2 overflow
    docs = spark.createDataFrame(
        [
            (0, t_long, "en", "s", len(t_long)),  # %3=0 menu, %5=0 link, %7=0 note
            (1, t_short, "en", "s", len(t_short)),  # p2 present but empty
            (2, t_long, "en", "s", len(t_long)),  # plain even doc
            (3, t_long, "en", "s", len(t_long)),  # %3=0 menu + real p2
        ],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )

    def strip(raw):
        return _re.sub(" +", " ", _re.sub("<[^>]*>", " ", raw)).strip()

    got = {r["doc_id"]: r for r in html_boilerplate_extract(docs).collect()}
    # doc 0: nav, menu div, p1, share bar, footer = 5 blocks, p1 kept
    assert (got[0]["n_blocks"], got[0]["kept_blocks"]) == (5, 1)
    assert got[0]["extracted_text"] == strip(
        '<b>note</b> ' + t_long[:140] + ' <a href="/ref">see also</a>'
    )
    # doc 1: nav, p1, EMPTY p2, share bar, footer = 5 blocks; the
    # empty p2 falls to the min-length rule, p1 (30 chars) survives
    assert (got[1]["n_blocks"], got[1]["kept_blocks"]) == (5, 1)
    assert got[1]["extracted_text"] == strip(t_short[:140])
    # doc 2: nav, p1, share bar, footer = 4 blocks, p1 kept verbatim
    assert (got[2]["n_blocks"], got[2]["kept_blocks"]) == (4, 1)
    assert got[2]["extracted_text"] == strip(t_long[:140])
    # doc 3: menu div joins, p2 carries the overflow: 6 blocks, 2 kept
    assert (got[3]["n_blocks"], got[3]["kept_blocks"]) == (6, 2)
    assert got[3]["extracted_text"] == (
        strip(t_long[:140]) + " " + strip(t_long[140:])
    )
    for r in got.values():
        assert r["boiler_blocks"] == r["n_blocks"] - r["kept_blocks"]
        assert r["extracted_chars"] == len(r["extracted_text"])


def test_html_extract_funnel_cumulative(spark, sf_dir):
    """Funnel stages are CUMULATIVE (each count <= the previous) and
    stage 0 is the corpus size; recomputed from the per-doc extract
    relation the funnel folds."""
    from flink_kafka_filter_transform_spark.operators.web import (
        html_boilerplate_extract,
        html_extract_quality_funnel,
    )
    from flink_kafka_filter_transform_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir=sf_dir, name="documents")
    rows = {
        r["stage_no"]: r["n_docs"]
        for r in html_extract_quality_funnel(docs).collect()
    }
    assert rows[0] >= rows[1] >= rows[2] >= rows[3] > 0
    e = html_boilerplate_extract(docs).collect()
    assert rows[0] == len(e)
    assert rows[1] == sum(1 for r in e if r["kept_blocks"] >= 1)
    assert rows[2] == sum(
        1 for r in e if r["kept_blocks"] >= 1 and r["extracted_chars"] >= 120
    )
    assert rows[3] == sum(
        1
        for r in e
        if r["kept_blocks"] >= 1
        and r["extracted_chars"] >= 120
        and r["boiler_blocks"] * 100 <= r["n_blocks"] * 80
    )
