

def test_positional_and_set_shingles_stay_in_sync(spark):
    """word_shingle_sets and positional_shingle_hashes re-implement
    the same tokenize/offset/concat/hash pipeline (set vs ordered
    stream). The oracles rely on the two staying bit-identical — this
    guard fails if a future tweak de-syncs them (r5 operator review)."""
    from etl_projects_spark.operators import dedup
    from etl_projects_spark.queries import load

    docs = load(spark, "/root/testdata/sf0.001", "documents").limit(25)
    sets = {
        r["id"]: set(r["sh_set"])
        for r in dedup.word_shingle_sets(docs).collect()
    }
    pos = {}
    for r in dedup.positional_shingle_hashes(docs).collect():
        pos.setdefault(r["id"], set()).add(r["h"])
    assert pos.keys() <= sets.keys()
    for doc_id, hashes in pos.items():
        assert hashes == sets[doc_id], doc_id
    # docs shorter than n yield an empty set AND zero positional rows
    for doc_id, s in sets.items():
        if not s:
            assert doc_id not in pos


def test_arrow_shingle_twin_is_byte_identical(spark):
    """The measured-but-not-adopted mapInPandas shingle twin (SCALE.md
    invariant 4 IOU, closed r10) must stay byte-identical to the
    production expression path — ARRAY ORDER INCLUDED, since the
    stored `sets` artifact persists the array and array_distinct's
    first-occurrence order is the contract. If this drifts, the twin
    is no longer a valid swap-in candidate and the compare tool's
    timings compare different work."""
    from etl_projects_spark.operators import dedup
    from etl_projects_spark.queries import load

    docs = load(spark, "/root/testdata/sf0.001", "documents").limit(50)
    expr = {r["id"]: r["sh_set"]
            for r in dedup.word_shingle_sets(docs).collect()}
    arrow = {r["id"]: r["sh_set"]
             for r in dedup.word_shingle_sets_arrow(docs).collect()}
    assert expr == arrow
    # edge rows the corpus may not cover: null text, short text, runs
    # of spaces (empty tokens are real tokens to split(' ') — both
    # paths must agree on that too), token-count boundaries around
    # n=3, non-space whitespace (NOT a delimiter to split(' ')),
    # multi-byte unicode (md5 is over UTF-8 bytes on both sides), and
    # duplicate shingles in mixed positions (first-occurrence order)
    edge = spark.createDataFrame(
        [
            (1, None),
            (2, "a b"),
            (3, "a  b   c d e"),
            (4, "x y z x y z"),
            (5, ""),
            (6, " "),
            (7, "a b c"),          # exactly n tokens → 1 shingle
            (8, " a b c "),        # leading/trailing empty tokens
            (9, "a\tb c d"),       # tab is NOT a split(' ') delimiter
            (10, "a\nb c d"),      # newline neither
            (11, "héllo wörld über straße ok"),
            (12, "日本 語 テスト 数 据"),
            (13, "emoji 🎉 mid 🎉 token 🎉 run"),
            (14, "a b c d e"),  # NBSP inside a token
            (15, "z y x w z y x w v"),  # dup shingles, late first-new
        ],
        "doc_id long, text string",
    )
    e1 = {r["id"]: r["sh_set"]
          for r in dedup.word_shingle_sets(edge).collect()}
    e2 = {r["id"]: r["sh_set"]
          for r in dedup.word_shingle_sets_arrow(edge).collect()}
    assert e1 == e2
    assert e1[1] == [] and e1[2] == []


def test_decontaminate_against_index_counts_hits(spark):
    """Cross-corpus probe: per eval doc, the count of its grams found
    in the index; zero-hit docs are absent (caller restores them)."""
    from etl_projects_spark.operators import dedup

    idx = spark.createDataFrame([("g1",), ("g2",), ("g3",)], "gram string")
    ev = spark.createDataFrame(
        [(1, "g1"), (1, "g2"), (1, "gX"), (2, "gY"), (3, "g3")],
        "doc_id long, gram string",
    )
    got = {r.doc_id: r.n_hit for r in
           dedup.decontaminate_against_index(ev, idx).collect()}
    assert got == {1: 2, 3: 1}  # doc 2 has no hits -> absent


def test_decontaminate_prunes_to_probed_buckets(spark, tmp_path):
    """With a gbucket-partitioned index, the probe must (a) return the
    same hit counts as the unpartitioned path and (b) statically prune
    the index scan to exactly the buckets the eval grams hash into —
    never list the full gram table."""
    import re

    from pyspark.sql import functions as F

    from etl_projects_spark.operators import dedup
    from etl_projects_spark.plans.audit import plan_string

    grams = [(f"g{i}",) for i in range(200)]
    path = str(tmp_path / "gram_index")
    (
        spark.createDataFrame(grams, "gram string")
        .withColumn("gbucket", dedup.gram_bucket("gram"))
        .write.partitionBy("gbucket")
        .parquet(path)
    )
    idx = spark.read.parquet(path)
    ev = spark.createDataFrame(
        [(1, "g1"), (1, "g2"), (1, "gX"), (2, "gY"), (3, "g3")],
        "doc_id long, gram string",
    )
    out = dedup.decontaminate_against_index(ev, idx)
    got = {r.doc_id: r.n_hit for r in out.collect()}
    assert got == {1: 2, 3: 1}
    # Small sets print as `IN (a,b,...)`, larger ones as `INSET a, b, …`
    # — accept either spelling, then compare the pruned bucket set to
    # the eval grams' own buckets: 5 grams hash into at most 5 of the
    # 64 buckets, so equality proves the scan skips the rest.
    m = re.search(
        r"PartitionFilters: \[gbucket#\d+ IN(?:SET)?\s*\(?([^)\]]*)",
        plan_string(out),
    )
    assert m, "no static gbucket pruning in the probe plan"
    values = {int(v) for v in re.findall(r"\d+", m.group(1))}
    want = {
        r[0]
        for r in ev.select(dedup.gram_bucket("gram")).distinct().collect()
    }
    assert len(want) <= 5
    assert values == want, (values, want)


def test_span_max_df_cap_never_binds(spark):
    """`substring_span_pairs`'s SPAN_MAX_DF cap is designed as a PURE
    100 TB guard — on this corpus it must drop nothing (r10 VERDICT
    item 4: the claim lived in a comment; a corpus or tokenizer change
    that started silently dropping pairs would have passed every
    gate). Measure the actual max span doc-frequency at every SF and
    fail loudly with the value if it ever approaches the cap."""
    import pyspark.sql.functions as F

    from etl_projects_spark.operators import dedup
    from etl_projects_spark.queries import load
    from etl_projects_spark.queries_wave29 import SPAN_MAX_DF, SPAN_N

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        docs = load(spark, f"/root/testdata/{sf}", "documents")
        row = (
            dedup.word_shingles(docs, n=SPAN_N)
            .groupBy("shingle")
            .agg(F.count("*").alias("df_"))
            .agg(F.max("df_").alias("max_df"))
            .collect()[0]
        )
        assert row["max_df"] < SPAN_MAX_DF, (
            f"{sf}: measured max span doc-frequency {row['max_df']} >= "
            f"SPAN_MAX_DF={SPAN_MAX_DF} — the pair query's cap now BINDS "
            "on this corpus (silently dropping pairs); re-measure and "
            "either raise the cap or document the dropped boilerplate."
        )


def test_eval_snapshot_preserves_exact_long_ids(spark):
    """r10 ADVICE regression pin: the gbucket path snapshots eval_grams
    to the driver before the bucket collect. The old toPandas()
    round-trip coerced a NULLABLE long doc_id to float64 (NaN for
    null), and the unchecked cast back silently corrupted ids above
    2^53 — exactly the class this test plants: an id at 2^53 + 1 (not
    float64-representable) and a null id. Both must survive the probe
    byte-exactly through the snapshot (r12: toArrow()+createDataFrame —
    Arrow int64 is exact and null-safe, with no pandas hop)."""
    from pyspark.sql import functions as F

    from etl_projects_spark.operators import dedup

    big = (1 << 53) + 1  # rounds to 2^53 under float64
    idx = (
        spark.createDataFrame([("g1",), ("g2",)], "gram string")
        .withColumn("gbucket", dedup.gram_bucket("gram"))
    )
    ev = spark.createDataFrame(
        [(big, "g1"), (big, "g2"), (None, "g1"), (7, "g2")],
        "doc_id long, gram string",
    )
    got = {
        r.doc_id: r.n_hit
        for r in dedup.decontaminate_against_index(ev, idx).collect()
    }
    assert got == {big: 2, None: 1, 7: 1}, got


def test_eval_snapshot_bound_fails_loudly(spark, monkeypatch):
    """The 'eval side is small' contract is ENFORCED (r10 ADVICE), not
    documented: routing an over-bound relation through the collected
    side must raise with the measured size, never silently collect."""
    import pytest

    from etl_projects_spark.operators import dedup

    idx = (
        spark.createDataFrame([("g1",)], "gram string")
        .withColumn("gbucket", dedup.gram_bucket("gram"))
    )
    ev = spark.createDataFrame(
        [(i, f"g{i}") for i in range(10)], "doc_id long, gram string"
    )
    monkeypatch.setattr(dedup, "EVAL_SNAPSHOT_MAX_ROWS", 5)
    with pytest.raises(ValueError, match="10 rows"):
        dedup.decontaminate_against_index(ev, idx)


def test_span_rewrite_reconciles_with_trim(spark):
    """r12: `substring_span_rewrite` emits the trimmed corpus;
    `substring_span_trim` accounts for it. Same foreign/island
    semantics by construction -> the rewrite's per-source removed
    totals must equal trim's accounting EXACTLY, at a low-signal SF
    (most docs untouched) and at the gated one."""
    import pyspark.sql.functions as F

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for sf in ("sf0.001", "sf0.01"):
        sf_dir = f"/root/testdata/{sf}"
        rewrite = (
            qs["substring_span_rewrite"](spark, sf_dir)
            .groupBy("source")
            .agg(
                F.sum("n_toks").alias("tokens_total"),
                F.sum("n_removed").alias("tokens_removed"),
            )
        )
        trim = qs["substring_span_trim"](spark, sf_dir).select(
            "source", "tokens_total", "tokens_removed"
        )
        mism = (
            rewrite.alias("r")
            .join(trim.alias("t"), "source", "full")
            .filter(
                (F.col("r.tokens_total") != F.col("t.tokens_total"))
                | (F.col("r.tokens_removed") != F.col("t.tokens_removed"))
            )
            .collect()
        )
        assert not mism, f"{sf}: rewrite/trim accounting diverged: {mism}"
        # And the rewrite is not vacuous where trim says tokens go.
        removed = qs["substring_span_rewrite"](spark, sf_dir).agg(
            F.sum("n_removed")
        ).collect()[0][0]
        if sf == "sf0.01":
            assert removed > 0


def test_incr_batch_modulus_bounds_the_batch():
    """r11 ADVICE (hardened by the r12 review): the batch predicate
    must be corpus-size-aware on BOTH axes — a doc-count-only modulus
    still tripped the 5M-span-row bound on long-document corpora. At
    every test SF the modulus is the family-standard 5 (all recorded
    hashes unchanged; measured token_ub 77k/75k/744k); past either
    target it grows so batch docs AND batch span rows stay bounded —
    the loud EVAL_SNAPSHOT_MAX_ROWS bound is a tripwire, never hit by
    design."""
    from etl_projects_spark.operators.dedup import EVAL_SNAPSHOT_MAX_ROWS
    from etl_projects_spark.queries_wave29 import (
        INCR_BATCH_TARGET_DOCS,
        INCR_BATCH_TARGET_TOKENS,
        _incr_batch_modulus,
    )

    assert INCR_BATCH_TARGET_TOKENS * 2 <= EVAL_SNAPSHOT_MAX_ROWS, (
        "the token target lost its safety margin under the loud bound"
    )
    for n, tok in ((0, 0), (500, 80_000), (5000, 750_000), (25_000, 2_000_000)):
        assert _incr_batch_modulus(n, tok) == 5, (n, tok)
    # doc-count axis
    for n in (100_000, 10_000_000, 10**9):
        m = _incr_batch_modulus(n, 0)
        assert n / m <= INCR_BATCH_TARGET_DOCS
        assert m == 5 or n / (m - 1) > INCR_BATCH_TARGET_DOCS
    # token axis: the long-document corpus the r12 review planted —
    # few docs, huge texts; span rows <= tok_ub / m must stay inside
    # the loud bound with margin
    for n, tok in ((5000, 50_000_000), (4000, 10**10)):
        m = _incr_batch_modulus(n, tok)
        assert tok / m <= INCR_BATCH_TARGET_TOKENS
        assert tok / m <= EVAL_SNAPSHOT_MAX_ROWS / 2


def test_span_rewrite_semantic_on_constructed_corpus(spark, tmp_path):
    """Intent guard for `substring_span_rewrite`, independent of the
    DuckDB oracle (hash parity proves the two ENGINES agree; this
    proves both mean the right thing): on a hand-built corpus where
    doc 1 (the min-id canonical holder) and doc 2 share one exact
    25-token run, the rewrite must keep doc 1 verbatim, excise from
    doc 2 EXACTLY the shared run (its merged foreign interval), and
    pass a sub-span-width doc through untouched."""
    import __spark_entry__ as entrymod

    shared = [f"a{i}" for i in range(25)]           # 25-token run
    d1 = " ".join(shared + [f"pad{i}" for i in range(8)])
    d2_head = [f"u{i}" for i in range(11)]
    d2_tail = [f"v{i}" for i in range(6)]
    d2 = " ".join(d2_head + shared + d2_tail)
    d3 = " ".join(f"w{i}" for i in range(12))       # < SPAN_N tokens
    docs = spark.createDataFrame(
        [(1, d1, "en", "srcA", len(d1)),
         (2, d2, "en", "srcA", len(d2)),
         (3, d3, "en", "srcB", len(d3))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r.doc_id: r
        for r in entrymod.queries()["substring_span_rewrite"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows[1].n_removed == 0 and rows[1].text_trimmed == d1
    assert rows[2].n_removed == 25
    assert rows[2].text_trimmed == " ".join(d2_head + d2_tail)
    assert rows[3].n_removed == 0 and rows[3].text_trimmed == d3


def test_minhash_signatures_raw_and_from_sets_agree(spark):
    """r12 review: `minhash_signatures` (raw-text path) claimed bit-
    identity with `minhash_signatures_from_sets` but nothing pinned it
    and no production path calls it — this is that pin, so the public
    raw-text entry point cannot silently drift from the family's
    stored-set path."""
    from etl_projects_spark.operators import dedup
    from etl_projects_spark.queries import load

    docs = load(spark, "/root/testdata/sf0.001", "documents").limit(50)
    raw = {
        tuple(r)
        for r in dedup.minhash_signatures(dedup.word_shingles(docs)).collect()
    }
    via_sets = {
        tuple(r)
        for r in dedup.minhash_signatures_from_sets(
            dedup.word_shingle_sets(docs)
        ).collect()
    }
    assert raw == via_sets and raw


def test_simhash_signatures_both_none_raises(spark):
    import pytest

    from etl_projects_spark.operators import dedup

    with pytest.raises(ValueError, match="df or shingle_sets"):
        dedup.simhash_signatures(None)


def test_jaccard_candidates_path_never_pairs_empty_sets(spark):
    """r12 review: two sub-n-token docs (both with EMPTY shingle sets)
    passed the integer threshold vacuously (den*0 >= num*0) and came
    back as a NaN-jaccard 'duplicate' through the candidates path."""
    from pyspark.sql import functions as F

    from etl_projects_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "too short"), (2, "also short"), (3, "a b c d e f g h")],
        "doc_id long, text string",
    )
    sets = dedup.word_shingle_sets(docs)
    cands = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    got = dedup.jaccard_pairs(
        None, candidates=cands, shingle_sets=sets
    ).collect()
    assert got == []  # empty-set pair dropped; empty-vs-nonempty 0 < t


def test_pair_cosine_zero_vector_never_ranks(spark):
    """r12 review: an all-zero embedding made pair-cosine NaN, and
    Spark ranks NaN above every real score — the bogus row would top
    every ANN result. With the norm floor it scores ~0 and loses."""
    from etl_projects_spark.operators import similarity

    emb = spark.createDataFrame(
        [
            (0, [1.0] * 64),
            (1, [0.0] * 64),          # broken row
            (2, [1.0] * 63 + [0.9]),  # genuine near-dup of 0
        ],
        "vec_id long, embedding array<float>",
    )
    top = similarity.brute_force_topk(emb, query_id=0, k=1).collect()
    assert top[0].vec_id == 2 and top[0].score > 0.99


def test_incremental_neardup_pins_are_scoped_and_released(spark):
    """r13 VERDICT item 4: the candidate materialization inside
    incremental_neardup must not accumulate one session-lifetime
    cache pin per invocation — a batch-admission loop re-entering the
    scope releases the previous batch's pin, and release_scope drops
    the last one. (The measured A/B that keeps it a persist at all —
    ReusedExchange does not bridge the broadcast boundary — is in the
    operator's comment; values are oracle-gated elsewhere.)"""
    from etl_projects_spark.operators import dedup
    from etl_projects_spark.operators.exec_util import release_scope
    from etl_projects_spark.queries import load
    from pyspark.sql import functions as F

    def pinned() -> int:
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    docs = load(spark, "/root/testdata/sf0.001", "documents").limit(60)
    sets = dedup.word_shingle_sets(docs)
    is_new = F.col("id") % 5 == 4
    index = dedup.melt_bands(
        dedup.minhash_signatures_from_sets(sets.filter(~is_new))
    )

    def run_batch() -> None:
        dedup.incremental_neardup(
            sets.filter(is_new), index, sets
        ).collect()

    run_batch()
    after_first = pinned()
    run_batch()
    run_batch()
    assert pinned() == after_first, (
        "repeated incremental_neardup invocations grew the pinned-RDD "
        "count — the scoped release path regressed"
    )
    release_scope("dedup.incremental_neardup.candidates")
    assert pinned() == after_first - 1


def test_jaccard_pairs_api_sets_pin_is_scoped(spark):
    """Same bounded-pin contract for jaccard_pairs' candidates-path
    set materialization (the API branch: candidates given, no cached
    shingle_sets) — at most one pinned relation per scope however many
    times an external verify loop calls it."""
    from etl_projects_spark.operators import dedup
    from etl_projects_spark.operators.exec_util import release_scope
    from etl_projects_spark.queries import load
    from pyspark.sql import functions as F

    def pinned() -> int:
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    docs = load(spark, "/root/testdata/sf0.001", "documents").limit(40)
    sh = dedup.word_shingle_sets(docs).select(
        "id", F.explode("sh_set").alias("shingle")
    )
    cands = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "id_a long, id_b long"
    )

    def run_verify() -> None:
        dedup.jaccard_pairs(sh, candidates=cands).collect()

    run_verify()
    after_first = pinned()
    run_verify()
    run_verify()
    assert pinned() == after_first
    release_scope("dedup.jaccard_pairs.sets")
    assert pinned() == after_first - 1


def test_scoped_pins_bounded_over_session_scale_loop(spark):
    """r13 VERDICT item 6: the existing accounting tests prove ONE
    re-entry; the contract is 'however long a session loops'. Loop the
    two scoped-pin catalog consumers (dedup_incremental_batch — the
    operator pins — and q11_important_parts — a query-level
    materialize_scoped) five times each in one session and assert the
    pinned-RDD count never exceeds the after-first-run level at ANY
    point, then drops back to the pre-loop baseline once every touched
    scope is released."""
    import __spark_entry__ as entrymod
    from etl_projects_spark.operators.exec_util import (
        _SCOPED_PINS,
        release_scope,
    )

    def pinned() -> int:
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    qs = entrymod.queries()
    baseline = pinned()
    before_scopes = {k[1] for k in _SCOPED_PINS}
    sf = "/root/testdata/sf0.001"

    qs["dedup_incremental_batch"](spark, sf).collect()
    qs["q11_important_parts"](spark, sf).collect()
    after_first = pinned()
    for _ in range(4):
        qs["dedup_incremental_batch"](spark, sf).collect()
        assert pinned() <= after_first, "pin count grew mid-loop"
        qs["q11_important_parts"](spark, sf).collect()
        assert pinned() <= after_first, "pin count grew mid-loop"
    for scope in {k[1] for k in _SCOPED_PINS} - before_scopes:
        release_scope(scope)
    assert pinned() == baseline, (
        "releasing every scope touched by the loop did not return the "
        "session to its pre-loop pinned-RDD baseline"
    )


def test_scoped_pins_are_keyed_per_session(spark):
    """r13 ADVICE: the registry is keyed by (session, scope) — two
    live sessions pinning the SAME scope must not clobber each other's
    relation (the old scope-only key silently unpersisted the other
    session's pin, losing its measured plan shape), and a no-session
    release drops both."""
    from etl_projects_spark.operators.exec_util import (
        materialize_scoped,
        release_scope,
    )

    def pinned() -> int:
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    other = spark.newSession()
    baseline = pinned()
    scope = "test.per_session_scope"
    a = materialize_scoped(spark.range(10), scope)
    b = materialize_scoped(other.range(20), scope)
    assert pinned() == baseline + 2, (
        "the second session's pin replaced the first session's — "
        "the registry is not session-keyed"
    )
    assert a.count() == 10 and b.count() == 20
    release_scope(scope, session=spark)
    assert pinned() == baseline + 1
    release_scope(scope)  # session=None sweeps the remaining holder
    assert pinned() == baseline


def test_jaccard_grouped_path_int_ids_do_not_wrap(spark):
    """The grouped path packs (id, n_sh) into one long. An IntegerType
    id shifted without a widening cast wrapped at 2^11 silently, and
    the 2^43 width guard passed every int, so pairs came back with
    corrupted ids instead of failing."""
    from etl_projects_spark.operators import dedup

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(3000, text), (5000, text + " today"), (7, "nothing shared here at all")],
        "doc_id int, text string",
    )
    got = dedup.jaccard_pairs(
        None, shingle_sets=dedup.word_shingle_sets(docs)
    ).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(3000, 5000)]
