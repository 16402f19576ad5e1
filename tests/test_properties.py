"""Property-based tests (hypothesis): invariants that hold for ALL
inputs, not just fixtures — name normalization, winnowing guarantee,
quality-score bounds."""

from __future__ import annotations

import hashlib
import re

from hypothesis import given, settings, strategies as st

from etl_projects_spark.functions.names import format_column_name

NAME_CHARS = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"),
                           whitelist_characters=" .()-_%/"),
    min_size=0, max_size=40,
)


@given(NAME_CHARS)
@settings(max_examples=300, deadline=None)
def test_format_column_name_idempotent(name):
    once = format_column_name(name)
    assert format_column_name(once) == once


@given(NAME_CHARS)
@settings(max_examples=300, deadline=None)
def test_format_column_name_shape(name):
    out = format_column_name(name)
    # Output is snake_case-safe: word chars only (Unicode letters kept,
    # per the reference's strip semantics), lowercase, no separators.
    assert re.fullmatch(r"\w*", out), out
    assert out == out.lower()
    assert "__" not in out and " " not in out and "." not in out


@given(st.integers(0, 2**60 - 1), st.integers(0, 2**60 - 1))
@settings(max_examples=200, deadline=None)
def test_minhash_perm_stays_in_range(h, _):
    from etl_projects_spark.operators.dedup import HASH_PRIME, MINHASH_COEFFS

    for a, b in MINHASH_COEFFS:
        v = (a * (h % HASH_PRIME) + b) % HASH_PRIME
        assert 0 <= v < HASH_PRIME
        # no Python-int overflow concerns map to Spark longs:
        assert a * (HASH_PRIME - 1) + b < 2**63


def test_winnowing_shared_run_guarantee(spark):
    """Winnowing's core guarantee: two docs sharing a run of
    >= w + n - 1 tokens share at least one fingerprint."""
    from etl_projects_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w+n-1
    docs = spark.createDataFrame(
        [(1, f"one two three {shared} x y z"),
         (2, f"{shared} p q r s t u v w")],
        "doc_id long, text string",
    )
    fps = dedup.winnow_fingerprints(docs).collect()
    fp1 = {r["fp"] for r in fps if r["id"] == 1}
    fp2 = {r["fp"] for r in fps if r["id"] == 2}
    assert fp1 & fp2, "shared 6-token run must yield a shared fingerprint"


@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=25,
        unique=True,
    )
)
@settings(max_examples=25, deadline=None)
def test_hex60_matches_duckdb_md5_cast(strings):
    """Cross-engine hash parity is load-bearing for the whole dedup
    family: Spark's conv(substr(md5,1,15),16,10) must equal DuckDB's
    CAST('0x'||substr(md5,1,15) AS BIGINT) for arbitrary unicode."""
    from tests.oracle_check import bounded_duckdb

    con = bounded_duckdb()
    duck = [
        con.execute(
            "SELECT CAST(('0x' || substr(md5(?), 1, 15)) AS BIGINT)", [s]
        ).fetchone()[0]
        for s in strings
    ]
    py = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in strings]
    assert duck == py


def test_phash_banding_exact_vs_brute_force(spark):
    """Pigeonhole exactness: with hamming <= T and T+1 disjoint bands,
    the banded join must return EXACTLY the brute-force pair set —
    on a random corpus, not just the testdata."""
    import itertools

    import numpy as np

    from etl_projects_spark.operators import multimodal
    from etl_projects_spark.queries_media import PHASH_HAM_MAX
    import __spark_entry__ as entrymod

    rng = np.random.RandomState(23)
    # random lowercase payloads, some near-identical to force collisions
    base = ["".join(chr(97 + rng.randint(0, 26)) for _ in range(80))
            for _ in range(40)]
    texts = base + [t[:70] + "zzzzzzzzzz" for t in base[:20]]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ph = {
        r["doc_id"]: r["phash"]
        for r in multimodal.perceptual_hash(multimodal.to_media(df)).collect()
    }
    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(ph), 2)
        if bin(ph[a] ^ ph[b]).count("1") <= PHASH_HAM_MAX
    }
    import etl_projects_spark.queries_media as qm

    # run the banded join body on this corpus by monkey-loading docs
    # through a temp view is overkill — reuse the banding directly:
    from pyspark.sql import functions as F

    phdf = spark.createDataFrame(
        [(k, v) for k, v in ph.items()], "doc_id long, phash long"
    )
    bands = phdf.select(
        "doc_id", "phash",
        F.posexplode(
            F.array(*[
                F.shiftright("phash", qm._BAND_BITS * i) % (1 << qm._BAND_BITS)
                for i in range(qm._PHASH_BANDS)
            ])
        ).alias("band_idx", "band_val"),
    )
    a = bands.select(F.col("doc_id").alias("a"), F.col("phash").alias("pa"),
                     "band_idx", "band_val")
    b = bands.select(F.col("doc_id").alias("b"), F.col("phash").alias("pb"),
                     "band_idx", "band_val")
    banded = {
        (r["a"], r["b"])
        for r in a.join(b, ["band_idx", "band_val"])
        .filter(F.col("a") < F.col("b"))
        .filter(F.expr("bit_count(pa ^ pb)") <= PHASH_HAM_MAX)
        .select("a", "b").distinct().collect()
    }
    assert banded == brute


def test_prefix_containment_blocking_lossless(spark):
    """Head-block equi-join must find every strict-prefix pair a brute
    force scan finds (len(short) >= 32 forces equal heads)."""
    import numpy as np

    rng = np.random.RandomState(31)
    texts = []
    for _ in range(30):
        t = "".join(chr(97 + rng.randint(0, 26)) for _ in range(rng.randint(32, 80)))
        texts.append(t)
        if rng.rand() < 0.5:
            texts.append(t + "tail" * rng.randint(1, 5))  # planted prefix pair
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, n_chars long",
    )
    brute = {
        (i, j)
        for i, ti in enumerate(texts)
        for j, tj in enumerate(texts)
        if i != j and len(ti) >= 32 and len(ti) < len(tj)
        and tj.startswith(ti)
    }
    from pyspark.sql import functions as F

    a = docs.filter(F.col("n_chars") >= 32).select(
        F.col("doc_id").alias("short_id"),
        F.col("text").alias("a_text"),
        F.col("n_chars").alias("short_len"),
        F.substring("text", 1, 32).alias("head"),
    )
    b = docs.select(
        F.col("doc_id").alias("long_id"),
        F.col("text").alias("b_text"),
        F.col("n_chars").alias("long_len"),
        F.substring("text", 1, 32).alias("head"),
    )
    got = {
        (r["short_id"], r["long_id"])
        for r in a.join(b, "head")
        .filter(
            (F.col("short_len") < F.col("long_len"))
            & F.col("b_text").startswith(F.col("a_text"))
        )
        .select("short_id", "long_id")
        .collect()
    }
    assert got == brute and len(brute) > 0


def test_curriculum_positions_interleave(spark):
    """Emit positions are unique, bucket-consistent (pos % 4 ==
    bucket - 1), and within each bucket strictly increase with
    difficulty rank."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    rows = qs["curriculum_schedule"](spark, "/root/testdata/sf0.001").collect()
    pos = [r["emit_pos"] for r in rows]
    assert len(pos) == len(set(pos))
    for r in rows:
        assert r["emit_pos"] % 4 == r["bucket"] - 1


def test_markov_rows_normalize_to_one(spark):
    """Per from_type, transition probabilities sum to 1 (each row of
    the transition matrix is a distribution)."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    df = entrymod.queries()["event_markov_transitions"](
        spark, "/root/testdata/sf0.001"
    )
    sums = {
        r["from_type"]: r["s"]
        for r in df.groupBy("from_type")
        .agg(F.sum("p").alias("s"))
        .collect()
    }
    assert sums and all(abs(s - 1.0) < 1e-9 for s in sums.values()), sums


def test_gini_known_extremes(spark):
    """Equal values → G = 0; one holder of everything → G = (n-1)/n."""
    from etl_projects_spark.queries import QUERIES

    def gini_of(rows):
        # Reuse the catalog query's algebra on a temp parquet dir.
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                rows, "o_custkey long, o_totalprice double, o_orderdate timestamp"
            ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
            out = QUERIES["gini_revenue_concentration"](spark, d).collect()[0]
            return out["n_customers"], out["gini"]

    from datetime import datetime

    t = datetime(2024, 1, 1)
    n, g = gini_of([(i, 100.0, t) for i in range(8)])
    assert n == 8 and abs(g) < 1e-12
    n, g = gini_of([(0, 800.0, t)] + [(i, 0.0, t) for i in range(1, 8)])
    assert n == 8 and abs(g - 7.0 / 8.0) < 1e-12


def test_decile_lift_shares_monotone_to_one(spark):
    import __spark_entry__ as entrymod

    rows = (
        entrymod.queries()["decile_lift_table"](spark, "/root/testdata/sf0.001")
        .orderBy("decile")
        .collect()
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    shares = [r["cum_share"] for r in rows]
    assert all(b >= a for a, b in zip(shares, shares[1:]))
    assert abs(shares[-1] - 1.0) < 1e-12
    # Deciles are ranked by spend: per-decile revenue non-increasing.
    revs = [r["revenue"] for r in rows]
    assert all(a >= b for a, b in zip(revs, revs[1:]))


def test_kmv_exact_when_sets_fit_in_sketch(spark):
    """With |user set| <= k per type, the KMV merged k-min set IS the
    union, so the estimate must equal the exact Jaccard."""
    import itertools
    import tempfile

    from datetime import datetime

    from etl_projects_spark.queries import QUERIES

    users = {"a": set(range(0, 40)), "b": set(range(20, 60)),
             "c": set(range(50, 55))}
    t = datetime(2024, 1, 1)
    rows = [
        (i, t, u, ty, 1.0, "{}")
        for ty, us in users.items()
        for i, u in enumerate(sorted(us))
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {
            (r["type_a"], r["type_b"]): r["jaccard_est"]
            for r in QUERIES["kmv_jaccard_event_types"](spark, d).collect()
        }
    for ta, tb in itertools.combinations(sorted(users), 2):
        a, b = users[ta], users[tb]
        exact = len(a & b) / len(a | b)
        assert abs(got[(ta, tb)] - exact) < 1e-12, (ta, tb, got[(ta, tb)], exact)


def test_rag_chunks_cover_every_token(spark):
    """Chunk-coverage invariant: the union of [tok_start, tok_start +
    n_toks) ranges covers [0, n) for every doc with no gaps, every
    chunk is non-empty and ≤ CHUNK tokens, consecutive starts step by
    STRIDE, and interior chunks are exactly CHUNK long — the contract
    a retrieval index relies on (no answer span falls in a hole)."""
    from etl_projects_spark.queries import QUERIES, load
    from etl_projects_spark.queries_llm import RAG_CHUNK, RAG_STRIDE

    sf = "/root/testdata/sf0.001"
    n_toks = {
        r["doc_id"]: r["n"]
        for r in load(spark, sf, "documents")
        .selectExpr("doc_id", "size(split(text, ' ')) AS n")
        .collect()
    }
    chunks: dict[int, list] = {}
    for r in QUERIES["rag_chunk_windows"](spark, sf).collect():
        chunks.setdefault(r["doc_id"], []).append(r)
    assert set(chunks) == {d for d, n in n_toks.items() if n > 0}
    for doc, rows in chunks.items():
        rows.sort(key=lambda r: r["chunk_idx"])
        n = n_toks[doc]
        for i, r in enumerate(rows):
            assert r["chunk_idx"] == i
            assert r["tok_start"] == i * RAG_STRIDE
            assert 1 <= r["n_toks"] <= RAG_CHUNK
            if r["tok_start"] + RAG_CHUNK <= n:
                assert r["n_toks"] == RAG_CHUNK  # interior chunk full
            assert r["tok_start"] + r["n_toks"] <= n
        last = rows[-1]
        assert last["tok_start"] + last["n_toks"] == n  # reaches the end
        # no gap: each next chunk starts inside (or at the edge of) the
        # previous chunk's range
        for a, b in zip(rows, rows[1:]):
            assert b["tok_start"] <= a["tok_start"] + a["n_toks"]


def test_packing_shards_full_except_last(spark):
    """Packing invariant the efficiency report audits: every shard but
    the highest-numbered is exactly full (fill_ratio == 1), tokens sum
    to the corpus token count, and no shard is empty."""
    from etl_projects_spark.queries import QUERIES, load

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        QUERIES["packing_efficiency_report"](spark, sf).collect(),
        key=lambda r: r["shard_id"],
    )
    assert rows
    total = load(spark, sf, "documents").selectExpr(
        "sum(size(split(text, ' '))) AS t"
    ).collect()[0]["t"]
    assert sum(r["n_tokens"] for r in rows) == total
    assert [r["shard_id"] for r in rows] == list(range(len(rows)))
    for r in rows[:-1]:
        assert r["fill_ratio"] == 1.0, r
    assert 0 < rows[-1]["fill_ratio"] <= 1.0


def test_activity_entropy_bounds(spark):
    """0 ≤ H ≤ ln(n_types) for every user, with H == 0 exactly when
    the user has a single event type."""
    import math

    import __spark_entry__ as entrymod

    rows = entrymod.queries()["user_activity_entropy"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert -1e-12 <= r["entropy"] <= math.log(r["n_types"]) + 1e-12, r
        if r["n_types"] == 1:
            assert r["entropy"] == 0.0, r


def test_minhash_estimate_matches_signature_agreement(spark):
    """The estimate column must equal matches/k exactly, and exact
    Jaccard must equal n_common/n_union — per construction, so any
    drift means the signature path and the set path diverged."""
    from etl_projects_spark.queries import QUERIES

    rows = QUERIES["minhash_jaccard_estimate"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r["est_jaccard"] == r["matches"] / 8.0
        assert abs(r["exact_jaccard"] - r["n_common"] / r["n_union"]) < 1e-15
        assert 0 <= r["matches"] <= 8


def test_cohort_ltv_curve_monotone(spark):
    """LTV-curve invariants: the cumulative column is the exact
    running sum of revenues in age order (so it never decreases —
    revenue is non-negative), every cohort starts at age 0 with
    cum == revenue (the cohort month IS the first-order month), and
    ages are non-negative."""
    import __spark_entry__ as entrymod

    by_cohort: dict[int, list] = {}
    for r in entrymod.queries()["cohort_ltv_curve"](
        spark, "/root/testdata/sf0.001"
    ).collect():
        by_cohort.setdefault(r["cohort_month"], []).append(r)
    assert by_cohort
    for cm, rows in by_cohort.items():
        rows.sort(key=lambda r: r["age"])
        assert rows[0]["age"] == 0, cm
        assert rows[0]["cum_revenue"] == rows[0]["revenue"], cm
        run = 0.0
        for r in rows:
            assert r["age"] >= 0 and r["revenue"] >= 0, r
            run += r["revenue"]
            # exact-DECIMAL cumsum cast to double at emit: the float
            # re-accumulation here can differ only by float addition
            # order of exact cents
            assert abs(r["cum_revenue"] - run) < 1e-6 * max(run, 1.0), r


def test_funnel_counts_match_direct_recount(spark):
    """The per-DOW conversion counts must sum to an independently
    computed converter count (users with a purchase at/after their
    first click), with valid DOW keys and non-negative latencies."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    from etl_projects_spark.queries import load

    sf = "/root/testdata/sf0.001"
    rows = entrymod.queries()["funnel_time_to_convert"](spark, sf).collect()
    assert rows
    for r in rows:
        assert 1 <= r["click_dow"] <= 7
        assert r["n_converted"] > 0
        assert r["median_us"] >= 0 and r["avg_sec"] >= 0.0
    ev = load(spark, sf, "events")
    fc = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fc"))
    )
    direct = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(F.col("ts") >= F.col("fc"))
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r["n_converted"] for r in rows) == direct


def test_seasonal_index_weighted_mean_is_one(spark):
    """The n_days-weighted mean of the seasonal index is exactly 1 by
    construction (Σ tot_d / g_tot); any drift means the per-DOW and
    grand totals diverged. Also: at most 7 rows, distinct DOW keys."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["seasonal_dow_index"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows and len(rows) <= 7
    dows = [r["dow"] for r in rows]
    assert len(set(dows)) == len(dows) and all(1 <= d <= 7 for d in dows)
    g_days = sum(r["n_days"] for r in rows)
    wmean = sum(r["seasonal_index"] * r["n_days"] for r in rows) / g_days
    assert abs(wmean - 1.0) < 1e-9, wmean
    for r in rows:
        assert r["seasonal_index"] > 0 and r["avg_daily_value"] >= 0


def test_bpe_merge_step_ranking_contract(spark):
    """Exactly 20 merge candidates, every pair 2 symbols, counts
    positive and ordered by (count DESC, pair ASC) — the deterministic
    merge-rule contract tokenizer training relies on."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["bpe_merge_step"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["pair"]) == 2 and r["n"] > 0
    keys = [(-r["n"], r["pair"]) for r in rows]
    assert keys == sorted(keys)


def test_zipf_table_accounts_for_every_token(spark):
    """Σ frequency·n_types over the frequency-of-frequencies table
    equals the corpus token count, and type shares sum to 1 — the
    completeness check Good–Turing smoothing needs."""
    import __spark_entry__ as entrymod

    from etl_projects_spark.queries import load

    sf = "/root/testdata/sf0.001"
    rows = entrymod.queries()["zipf_frequency_report"](spark, sf).collect()
    assert rows
    total = load(spark, sf, "documents").selectExpr(
        "sum(size(split(text, ' '))) AS t"
    ).collect()[0]["t"]
    assert sum(r["frequency"] * r["n_types"] for r in rows) == total
    assert abs(sum(r["type_share"] for r in rows) - 1.0) < 1e-9
    freqs = [r["frequency"] for r in rows]
    assert len(set(freqs)) == len(freqs) and all(f > 0 for f in freqs)


def test_vocab_oov_rate_bounds_and_recount(spark):
    """OOV rates in [0, 1], n_oov ≤ n_tokens, and the token totals per
    source match an independent recount."""
    import __spark_entry__ as entrymod

    from pyspark.sql import functions as F

    from etl_projects_spark.queries import load

    sf = "/root/testdata/sf0.001"
    rows = entrymod.queries()["vocab_oov_rate"](spark, sf).collect()
    assert rows
    direct = {
        r["source"]: r["t"]
        for r in load(spark, sf, "documents")
        .groupBy("source")
        .agg(F.expr("sum(size(split(text, ' ')))").alias("t"))
        .collect()
    }
    for r in rows:
        assert 0 <= r["n_oov"] <= r["n_tokens"]
        assert 0.0 <= r["oov_rate"] <= 1.0
        assert r["n_tokens"] == direct[r["source"]]


def test_mixture_weights_normalized(spark):
    """Temperature-scaled mixture weights sum to 1 (6-dp rounding
    slack) and per-10k quotas never exceed the budget."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["mixture_weights_temperature"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
    assert sum(r["docs_per_10k"] for r in rows) <= 10000
    for r in rows:
        assert r["weight"] > 0 and r["docs_per_10k"] >= 0


def test_decontamination_verdicts_internally_consistent(spark):
    """Cross-corpus decontamination invariants (r7): every eval doc
    reports 0 <= n_hit <= n_grams; any eval doc whose split is 'train'
    is contaminated by construction (its own grams ARE the index); and
    the contaminated flag is exactly n_hit > 0."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from etl_projects_spark.queries_curation import _contam_split_relation

    sf = "/root/testdata/sf0.001"
    out = entrymod.queries()["decontaminate_eval_join"](spark, sf)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows, "eval suite selected no documents"
    for r in rows.values():
        assert 0 <= r.n_hit <= r.n_grams, r
        assert r.contaminated == (r.n_hit > 0), r
    train_ids = {
        r.doc_id
        for r in _contam_split_relation(spark, sf)
        .filter(
            (F.col("split") == "train") & (F.col("doc_id") % 101 == 0)
        )
        .select("doc_id")
        .collect()
    }
    assert train_ids, "no train-split eval docs at this SF"
    for did in train_ids:
        assert rows[did].contaminated, (
            f"train-split eval doc {did} must self-contaminate"
        )


def test_prefix_sum_invariant_to_bound_choice(spark):
    """prefix_sum's result must be IDENTICAL for any supplied boundary
    set (r7 bounds param): boundaries only choose the physical
    bucketing, never the arithmetic. Exercised with empty, single,
    duplicate-heavy, and out-of-range boundary sets."""
    from pyspark.sql import functions as F

    from etl_projects_spark.operators.exec_util import prefix_sum

    df = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_orderkey", F.col("o_custkey").alias("v"))
        .limit(500)
    )
    base = None
    for bounds in ([], [3.0], [10.0, 10.0, 2.0], [-1e18, 0.5, 1e18]):
        got = {
            r.o_orderkey: r.c
            for r in prefix_sum(
                df, "o_orderkey", "v", out_col="c", bounds=bounds
            ).collect()
        }
        if base is None:
            base = got
        assert got == base, f"bounds={bounds} changed the result"
