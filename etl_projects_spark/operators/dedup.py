"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Design for 100 TB:

- Everything is expressed as DataFrame ops (explode → groupBy → join);
  no Python UDFs, no driver-side collects.
- The quadratic all-pairs comparison only ever happens *inside LSH
  buckets / shared-shingle groups*, never globally: candidate
  generation is a shuffle keyed on (band, signature) or shingle, which
  scales linearly with data and stays skew-safe under AQE. A
  document-frequency cap (``max_doc_freq``) drops degenerate
  ubiquitous shingles, bounding the worst bucket.
- All hashing is integer arithmetic mod a 32-bit prime on top of
  md5-derived 60-bit keys — deterministic, engine-portable (the DuckDB
  oracle replicates it bit-for-bit; generators below emit the twin SQL
  from the same constants).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---- shared hashing constants (mirrored into oracle SQL) -----------------

HASH_PRIME = 1_000_000_007  # fits: a*(h%p)+b < 2^61 — no 64-bit overflow
# (a, b) pairs for k=8 minhash permutations h_i(x) = (a_i*x + b_i) mod p
MINHASH_COEFFS: list[tuple[int, int]] = [
    (1610612741, 11), (805306457, 101), (402653189, 1009), (201326611, 10007),
    (100663319, 100003), (50331653, 1000003), (25165843, 2000003), (12582917, 4000037),
]
LSH_BANDS = 4  # 4 bands x 2 rows over the 8 minhashes
SIMHASH_BITS = 32
NGRAM_N = 3


from etl_projects_spark.operators.exec_util import (  # noqa: F401
    fan_out,
    materialize,
    materialize_scoped,
    release_scope,
)
# (re-exported: the dedup catalog queries call dedup.materialize)


def hex60(c: Column) -> Column:
    """First 60 bits of md5 as a bigint (portable string→int hash)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def word_shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = NGRAM_N
) -> DataFrame:
    """Per-document DISTINCT shingle set as one array column:
    (id, sh_set array<long>), shingles 60-bit md5-derived longs.

    Entirely per-row (``transform`` + ``array_distinct``): the
    within-document dedup that a global ``distinct()`` on the exploded
    relation would do in a full shuffle happens for free inside each
    row — zero shuffles, and the set column doubles as the
    ready-made per-id set for Jaccard verification (no collect_set).
    The offset sequence is guarded to empty for docs shorter than n
    (``sequence(1, 0)`` would count backwards); docs below n tokens
    get an empty set.

    Hashing happens BEFORE the distinct: ``distinct(hash(x))`` equals
    ``hash(distinct(x))`` as a set (collisions included — identical in
    both engines), and downstream shuffles then move 8-byte longs
    instead of ~25-char strings.

    The shingle string is ``array_join(slice(toks, i, n), ' ')`` — 2
    interpreted expression nodes per shingle instead of the previous
    n ``element_at`` + ``concat_ws`` chain whose cost grew LINEARLY
    with n (r10 profile at sf0.1: 2× faster at n=3, 10× at n=20 where
    the 20-node chain took 19 s; byte-identical output, same
    ``concat_ws`` semantics since split() never yields nulls).
    """
    toks = F.split(F.col(text_col), " ")
    base = fan_out(df.select(F.col(id_col).alias("id"), toks.alias("toks")))
    offsets = F.when(
        F.size("toks") >= n, F.sequence(F.lit(1), F.size("toks") - (n - 1))
    ).otherwise(F.expr("array()"))
    grams = F.transform(
        offsets, lambda i: hex60(F.array_join(F.slice("toks", i, n), " "))
    )
    return base.select("id", F.array_distinct(grams).alias("sh_set"))


def word_shingle_sets_arrow(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = NGRAM_N
) -> DataFrame:
    """Arrow-batched twin of :func:`word_shingle_sets` — same (id,
    sh_set) contract, byte-identical output (md5-derived 60-bit longs,
    array_distinct's first-occurrence order), computed in a
    ``mapInPandas`` Python loop instead of the interpreted
    higher-order-expression chain.

    Built to settle SCALE.md invariant 4's IOU (the HOF chain measured
    ~2.7x slower than a bare Python hashing loop): MEASURED r10 at
    sf0.1 via ``tools/compare_udf_paths.py`` (workload
    ``shingle_sets_full``), and NOT ADOPTED — on the full contract the
    expression path wins (0.91 s vs 0.97 s, repeat 1.04 s vs 1.28 s):
    the bare-loop advantage existed only while the arrays were sized
    away JVM-side; carrying the real (id, sh_set) payload back through
    Arrow serialization erases it entirely. The production path stays
    :func:`word_shingle_sets` (no Python workers on the dedup hot
    path at 1000 executors, same md5 oracle contract, and now also
    simply faster); this twin stays as the measured evidence and the
    ready candidate should cluster profiling ever disagree.

    Bit-exactness (pinned by the compare tool's cross-check and
    ``tests/test_dedup.py``): the loop hashes each n-gram with
    hashlib.md5 — equal to ``hex60(concat_ws(' ', …))`` because both
    take the first 15 hex digits (60 bits) of the UTF-8 md5 and both
    join tokens with a single space — and first-occurrence dedup
    (dict, insertion-ordered) reproduces ``array_distinct`` exactly,
    so even the stored `sets` artifact would be byte-identical
    whichever path built it.
    """
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("sh_set", ArrayType(LongType())),
        ]
    )
    win = n  # bind locally: the closure must not capture the DataFrame

    def shingle_batches(batches):
        import hashlib

        for pdf in batches:
            sets_col = []
            for text in pdf["text"]:
                if not isinstance(text, str):  # null text → empty set
                    sets_col.append([])
                    continue
                toks = text.split(" ")
                seen: dict[int, None] = {}
                for i in range(len(toks) - (win - 1)):
                    gram = " ".join(toks[i:i + win])
                    h = int(
                        hashlib.md5(gram.encode()).hexdigest()[:15], 16
                    )
                    if h not in seen:
                        seen[h] = None
                sets_col.append(list(seen))
            yield pd.DataFrame({"id": pdf["id"], "sh_set": sets_col})

    base = fan_out(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    )
    return base.mapInPandas(shingle_batches, out_schema)


def word_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = NGRAM_N
) -> DataFrame:
    """Distinct hashed word n-gram shingles per document: (id, shingle)
    — the exploded view of :func:`word_shingle_sets`.

    The per-doc distinct is already done inside each row's array, so
    the explode needs NO trailing ``distinct()`` — the previous
    explode-then-global-distinct shape paid a full shuffle of the
    exploded relation for the same result set.

    ``explode_outer`` + null-filter instead of plain ``explode`` (r15
    optimization): a non-outer Generate lets Catalyst's
    InferFiltersFromGenerate synthesize ``size(sh_set)>0 AND
    isnotnull(sh_set)`` and push it below the fan_out Exchange — where
    ``sh_set`` is re-substituted as the FULL md5 gram transform, so
    the single-task scan stage evaluated the whole shingle pipeline
    twice before the fanned stage computed it a third time (measured
    at sf0.1: 2.1 s → 0.45 s for the bare exploded relation; the
    tripled md5 chain is the same waste on one row or 10^12). The
    outer generate infers no filter; the explicit null-filter on the
    OUTPUT column drops exactly the rows plain explode never emitted
    (docs with empty sets — sh_set elements are md5-derived longs over
    non-null tokens and can never be null themselves, so the filter
    can only remove the empty/null-array marker rows). Byte-identical
    output, pinned by tests/test_dedup.py.
    """
    return (
        word_shingle_sets(df, text_col=text_col, id_col=id_col, n=n)
        .select("id", F.explode_outer("sh_set").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct
    content with the keeper id (min) and duplicate count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """k=8 MinHash signature per id from a (id, shingle) relation.

    min() is order-independent integer math → exact and portable.
    Map-side partial aggregation makes this one narrow shuffle.
    """
    # Shingles arrive pre-hashed (word_shingles); one pmod projection
    # feeds all 8 permutations.
    hashed = shingles.select(
        "id", F.pmod(F.col("shingle"), F.lit(HASH_PRIME)).alias("h")
    )
    aggs = [
        F.min(F.pmod(a * F.col("h") + b, F.lit(HASH_PRIME))).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return hashed.groupBy("id").agg(*aggs)


def minhash_stage_expr(set_col: str = "sh_set") -> F.Column:
    """The pmod staging projection shared by every MinHash producer —
    evaluate once per row so the k permutations map a common array."""
    return F.transform(set_col, lambda x: F.pmod(x, F.lit(HASH_PRIME)))


def minhash_sig_cols(h_col: str = "h") -> list[F.Column]:
    """The k=8 signature expressions (``mh0..mh7``) over a staged
    ``h`` array. THE single definition of the signature arithmetic:
    the batch index builder and the streaming admission probe both
    compose these, so the two can never drift bit-wise — a stream
    probing an index built with different coefficients would silently
    miss every bucket."""
    return [
        F.array_min(
            F.transform(h_col, lambda h: F.pmod(a * h + b, F.lit(HASH_PRIME)))
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]


def band_mh_columns(band: int) -> list[str]:
    """The signature column names making up one LSH band key — the
    band layout contract shared by :func:`melt_bands` (index build)
    and the streaming probe."""
    rows_per_band = len(MINHASH_COEFFS) // LSH_BANDS
    return [f"mh{band * rows_per_band + r}" for r in range(rows_per_band)]


def minhash_signatures_from_sets(sets: DataFrame) -> DataFrame:
    """k=8 MinHash signature per id from a (id, sh_set) relation —
    entirely per-row: each permutation is an ``array_min`` over a
    mapped copy of the set, so the signature table needs ZERO shuffles
    (vs one explode + groupBy shuffle from the exploded relation).

    min over a multiset equals min over the set, so the result is
    bit-identical to :func:`minhash_signatures`. The pmod staging
    projection makes the shared ``h`` array evaluate once per row
    instead of once per permutation. Docs with empty sets are dropped
    (parity with the grouped path, where they have no rows to group).
    """
    staged = sets.filter(F.size("sh_set") > 0).select(
        "id", minhash_stage_expr("sh_set").alias("h")
    )
    return staged.select("id", *minhash_sig_cols("h"))


def melt_bands(sigs: DataFrame) -> DataFrame:
    """(id, band, k0..k{r-1}): the banded LSH key relation — one
    ``stack`` projection, no shuffle. These rows ARE the persistable
    LSH index of a corpus: write them partitioned/bucketed on the band
    keys once, and every future batch probes them without touching
    the corpus text again (see :func:`incremental_neardup`)."""
    rows_per_band = len(MINHASH_COEFFS) // LSH_BANDS
    stack_args = []
    for band in range(LSH_BANDS):
        stack_args.append(f"{band}, {', '.join(band_mh_columns(band))}")
    keys = ", ".join(f"k{r}" for r in range(rows_per_band))
    return sigs.selectExpr(
        "id", f"stack({LSH_BANDS}, {', '.join(stack_args)}) AS (band, {keys})"
    )


def lsh_candidate_pairs(sigs: DataFrame, dedupe: bool = True) -> DataFrame:
    """Candidate pairs: ids agreeing on all rows of any LSH band.

    The signature table is melted to (id, band, k1, k2) rows — one
    ``stack`` projection, no shuffle — and candidates come from a
    SINGLE self-equi-join keyed on (band, k1, k2). One shuffle of
    bands×N rows instead of one join per band; bucket sizes stay
    bounded, so the join is linear and skew-safe under AQE.

    ``dedupe=False`` skips the trailing distinct (pairs agreeing on
    several bands then appear once per band) — for callers that feed
    the result into their own distinct/aggregate anyway, so the same
    rows aren't exchanged twice.
    """
    rows_per_band = len(MINHASH_COEFFS) // LSH_BANDS
    melted = melt_bands(sigs)
    a, b = melted.alias("a"), melted.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    for c in ["band"] + [f"k{r}" for r in range(rows_per_band)]:
        cond = (F.col(f"a.{c}") == F.col(f"b.{c}")) & cond
    pairs = a.join(b, cond).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    )
    return pairs.distinct() if dedupe else pairs


# Packed (id, n_sh) carrier for jaccard_pairs' sized path: doc id in
# the high 43 bits, the doc's distinct-shingle count in the low 20
# (≤ 1,048,575 — a guard fails loudly past either width). Packing keeps
# the per-shingle sort a primitive long sort and the pair shuffle at
# the r15 byte width while still eliminating both per-id size joins.
_NSH_BITS = 20
_NSH_MASK = (1 << _NSH_BITS) - 1


def jaccard_pairs(
    shingles: DataFrame | None,
    threshold_num: int = 1,
    threshold_den: int = 2,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = None,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """Pairs with shingle-Jaccard ≥ threshold_num/threshold_den.

    The threshold test is pure integer arithmetic
    (``den*common >= num*(|A|+|B|-common)``) — no float boundary issues;
    the reported ``jaccard`` is one final double division.

    ``candidates`` (e.g. from LSH) restricts the verify; ``max_doc_freq``
    drops shingles shared by more than N docs (skew guard at scale).

    Two physical strategies, both avoiding a shingle×shingle self-join
    (measured 2-5× slower than either at sf0.1):

    - with ``candidates``: per-id shingle SETS (semi-join down to
      candidate ids, one collect_set groupBy), then one broadcast join
      per pair side and a codegen'd ``array_intersect`` — the verify
      cost is O(|candidates| · shingles/doc), never corpus-quadratic;
    - without: group ids per shingle (arrays bounded by the doc-freq
      cap — THE guard that keeps the expansion linear at 100 TB) and
      explode each group's ordered pairs; one partial-aggregated
      shuffle counts common shingles per pair.

    Pass ``shingle_sets`` (from :func:`word_shingle_sets`, ideally
    cached) to skip the collect_set re-aggregation in the candidates
    path and the per-id size groupBy in the grouped path; ``shingles``
    may then be None (the exploded view is derived on demand).
    """
    if shingles is None:
        if shingle_sets is None:
            raise ValueError("need shingles or shingle_sets")
        shingles = shingle_sets.select("id", F.explode("sh_set").alias("shingle"))
    if max_doc_freq is not None:
        # Count-then-filter-then-collect, deliberately TWO passes over
        # the exploded relation: the first is a constant-memory partial
        # count (safe on any skew), and only groups that survived the
        # cap ever reach a collect_list. A single-pass
        # groupBy.collect_list.filter(size<=cap) would be one shuffle
        # cheaper but builds the FULL id array for ubiquitous shingles
        # before filtering — unbounded executor memory on exactly the
        # skewed groups the cap exists to guard (measured: no local win
        # either, the count agg is far lighter than the list shuffle).
        freq = shingles.groupBy("shingle").agg(F.count("*").alias("df_"))
        # Deliberately NOT materialized (r11 ADVICE: the persist here
        # pinned one cached relation per invocation with no handle to
        # release it). The capped relation feeds two plan branches in
        # the grouped path (per-id sizes + per-shingle groups), but
        # both branches share byte-identical Exchange subtrees (the
        # doc-freq aggregate and the cap join), so ReuseExchange
        # computes the corpus-scale subtree ONCE and the second branch
        # reads a ReusedExchange — plan-pinned in tests/test_plans.py,
        # and measured FASTER than the persist+count barrier it
        # replaces (df_capped 2.1→1.2 s, lsh_recall_report 2.3→1.7 s
        # at sf0.1; the eager count was a whole extra job). Same
        # leaked-pin fix as substring_span_pairs in r11.
        shingles = shingles.join(
            freq.filter(F.col("df_") <= max_doc_freq), "shingle"
        ).select("id", "shingle")
    if candidates is not None:
        # candidate sets are LSH-bounded (small by design) → both the
        # semi-join filter and the pair-side set joins broadcast.
        ids = (
            candidates.select(F.col("id_a").alias("id"))
            .union(candidates.select(F.col("id_b").alias("id")))
            .distinct()
        )
        if shingle_sets is not None and max_doc_freq is None:
            # The per-row set column IS the per-id set: no collect_set
            # shuffle, no extra barrier — each broadcast branch below
            # re-runs only a semi-join over the (caller-cached) sets.
            sets = shingle_sets.join(F.broadcast(ids), "id", "left_semi").select(
                "id", F.col("sh_set").alias("s")
            )
        else:
            # Eagerly materialized: the set relation feeds BOTH
            # pair-side broadcasts below, and two broadcast exchanges
            # in one job race a lazy cache — each would recompute the
            # semi-join + collect_set (the relation is
            # candidate-bounded, so the barrier job is small).
            # SCOPED pin (r13, closing the r12 deferral): exchange
            # reuse does not bridge the two broadcast subtrees here
            # (measured on the sibling incremental_neardup pin:
            # de-persisting tripled the steady-state probe), so the
            # persist stays — but through materialize_scoped, which
            # releases the PREVIOUS invocation's pin, bounding a
            # verify loop at one cached candidate-set relation instead
            # of one per call.
            sets = materialize_scoped(
                shingles.join(F.broadcast(ids), "id", "left_semi")
                .groupBy("id")
                .agg(F.collect_set("shingle").alias("s")),
                scope="dedup.jaccard_pairs.sets",
            )
        xa = sets.select(F.col("id").alias("id_a"), F.col("s").alias("sa"))
        xb = sets.select(F.col("id").alias("id_b"), F.col("s").alias("sb"))
        joined = candidates.join(F.broadcast(xa), "id_a").join(
            F.broadcast(xb), "id_b"
        )
        common = F.size(F.array_intersect("sa", "sb"))
        union_sz = F.size("sa") + F.size("sb") - common
        # union_sz > 0 conjunct (r12 review): two EMPTY sets pass the
        # integer test vacuously (den*0 >= num*0) and would emit a
        # "duplicate" pair with NaN jaccard (0/0) — two unrelated
        # sub-n-token docs must never be merged. In-repo LSH flows
        # filter empty sets upstream; this guards external callers.
        return (
            joined.filter(
                (union_sz > F.lit(0))
                & (F.lit(threshold_den) * common >= F.lit(threshold_num) * union_sz)
            )
            .select(
                "id_a",
                "id_b",
                (common.cast("double") / union_sz.cast("double")).alias("jaccard"),
            )
        )
    if shingle_sets is not None and max_doc_freq is None:
        # Per-row size of the set column, carried THROUGH the pair
        # expansion (r16, guide §2.4): each exploded (id, shingle) row
        # rides with its doc's n_sh, so the two per-id size joins
        # below (at 100 TB: two corpus-row-count relations shuffled
        # onto the pair stream) are gone from the plan outright.
        # The carrier is ONE packed long — id in the high 43 bits,
        # n_sh in the low 20 — NOT a (id, n_sh) struct: the first cut
        # of this change collected struct elements, and the
        # interpreted two-field comparator inside sort_array plus the
        # wider shuffle rows measurably regressed the 3×-corpus probe
        # (3.63 → 4.27 s min-of-4) even as sf0.1 improved. Packed,
        # the per-shingle sort is the SAME primitive long sort as the
        # r15 shape, every exchanged row is the same 8/16 bytes, and
        # the sizes unpack once per SURVIVING pair group after the
        # aggregate. Ordering equivalence: id is unique within a
        # shingle group (caller contract: distinct (id, shingle)) and
        # occupies the high bits, so packed order == id order — the
        # emitted ordered pairs are exactly the r15 set. The loud
        # width guard is the curriculum_schedule/dsir precedent:
        # overflow would corrupt pair ordering silently.
        packed = F.shiftleft(F.col("id").cast("long"), _NSH_BITS) + F.col("n_sh")
        packed = F.when(
            (F.col("id") >= 0)
            & (F.col("id") < F.lit(1 << (63 - _NSH_BITS)))
            & (F.col("n_sh") <= F.lit(_NSH_MASK)),
            packed,
        ).otherwise(
            F.raise_error(
                F.lit(
                    "jaccard_pairs: doc id exceeds the 2^43 packing "
                    "width or a document has more than 2^20 distinct "
                    "shingles; rebalance the packed (id, n_sh) key"
                )
            )
        )
        sized = (
            shingle_sets.select(
                "id",
                F.size("sh_set").alias("n_sh"),
                F.explode_outer("sh_set").alias("shingle"),
            )
            .filter(F.col("shingle").isNotNull())
            .select(packed.alias("pid"), "shingle")
        )
        grouped = (
            sized.groupBy("shingle")
            .agg(F.sort_array(F.collect_list("pid")).alias("ids"))
            .filter(F.size("ids") > 1)
        )
        pairs = grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS pa, y AS pb))))"
                )
            ).alias("p")
        ).select("p.*")
        joined = (
            pairs.groupBy("pa", "pb")
            .agg(F.count("*").alias("common"))
            .select(
                F.shiftright("pa", _NSH_BITS).alias("id_a"),
                F.shiftright("pb", _NSH_BITS).alias("id_b"),
                F.col("pa").bitwiseAND(F.lit(_NSH_MASK)).alias("n_a"),
                F.col("pb").bitwiseAND(F.lit(_NSH_MASK)).alias("n_b"),
                "common",
            )
        )
    else:
        sizes = shingles.groupBy("id").agg(F.count("*").alias("n_sh"))
        grouped = (
            shingles.groupBy("shingle")
            .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            .filter(F.size("ids") > 1)
        )
        pairs = grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        ).select("p.*")
        common_df = pairs.groupBy("id_a", "id_b").agg(
            F.count("*").alias("common")
        )
        na = sizes.withColumnRenamed("id", "id_a").withColumnRenamed(
            "n_sh", "n_a"
        )
        nb = sizes.withColumnRenamed("id", "id_b").withColumnRenamed(
            "n_sh", "n_b"
        )
        # NO broadcast hint here: ``sizes`` is one row PER DOCUMENT —
        # at 100 TB that is a driver-killing broadcast. Left unhinted,
        # AQE broadcasts it when (and only when) the runtime stats say
        # it fits; at scale both sides shuffle on the pair ids instead.
        joined = common_df.join(na, "id_a").join(nb, "id_b")
    union_sz = F.col("n_a") + F.col("n_b") - F.col("common")
    return (
        joined.filter(
            F.lit(threshold_den) * F.col("common") >= F.lit(threshold_num) * union_sz
        )
        .select(
            "id_a",
            "id_b",
            (F.col("common").cast("double") / union_sz.cast("double")).alias("jaccard"),
        )
    )


def incremental_neardup(
    new_sets: DataFrame,
    index: DataFrame,
    all_sets: DataFrame,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Incremental near-dup verdicts for a NEW batch against an
    already-indexed corpus: (doc_id, dup_of, keep) per new document.

    The 100 TB shape: an existing corpus is never re-deduped when a
    batch arrives. Its :func:`melt_bands` rows live as a stored index
    (``index``: (id, band, k0, k1), partitioned/bucketed on the band
    keys); a batch probes with a BROADCAST of its own band rows — the
    index never shuffles, and with a band-partitioned layout the scan
    prunes too. Batch cost is O(batch + matched buckets), independent
    of corpus size.

    Candidates = index hits (existing → new) ∪ in-batch LSH pairs
    (smaller-id new doc → larger). Both verify through the shared
    :func:`jaccard_pairs` set intersection (``all_sets`` must cover
    every id that can appear; it is semi-joined down to candidates, so
    passing the full corpus set relation is scale-safe). A new doc is
    dropped when any verified partner exists; ``dup_of`` reports the
    smallest such partner. Deterministic by construction: the verdict
    compares against ALL smaller-id batch members, not just kept ones
    — no sequential dependence, one shot, SQL-expressible.
    """
    new_sigs = minhash_signatures_from_sets(new_sets)
    new_bands = melt_bands(new_sigs)
    key_cols = [c for c in new_bands.columns if c != "id"]
    cross = (
        index.alias("old")
        .join(F.broadcast(new_bands.alias("new")), key_cols)
        .filter(F.col("old.id") != F.col("new.id"))
        .select(F.col("old.id").alias("id_a"), F.col("new.id").alias("id_b"))
        # no .distinct() here: multi-band duplicate hits ride into the
        # union below, whose single distinct dedupes both sources in
        # one exchange instead of two.
    )
    internal = lsh_candidate_pairs(new_sigs, dedupe=False)
    # Materialized WITH a release path (r13, closing the r12 deferral):
    # candidates feed BOTH the id-set build and the pair join inside
    # jaccard_pairs — left lazy, each branch recomputes the index
    # probe + in-batch self-join. The promised A/B ran first: the
    # ReusedExchange route (the r12 df-cap template) does NOT fire —
    # the distinct's exchange feeds one shuffle-join branch and two
    # broadcast subtrees, and reuse does not bridge the broadcast
    # boundary (measured: de-persisting regressed
    # dedup_incremental_batch 2.3 → 7.3 s steady at sf0.1, i.e. three
    # full recomputes). materialize_scoped keeps the 2.3 s plan and
    # bounds a batch-admission loop at ONE pinned candidate relation
    # (the previous batch's pin is unpersisted on re-entry;
    # regression-pinned in tests/test_dedup.py).
    candidates = materialize_scoped(
        cross.union(internal).distinct(),
        scope="dedup.incremental_neardup.candidates",
    )
    verified = jaccard_pairs(
        None,
        threshold_num=threshold_num,
        threshold_den=threshold_den,
        candidates=candidates,
        shingle_sets=all_sets,
    )
    dups = verified.groupBy("id_b").agg(F.min("id_a").alias("dup_of"))
    return (
        new_sets.select(F.col("id").alias("doc_id"))
        .join(dups, F.col("doc_id") == F.col("id_b"), "left")
        .select("doc_id", "dup_of", F.col("dup_of").isNull().alias("keep"))
    )


# Gram-bucket fan-out of the persisted train-gram index: the index is
# written partitioned on pmod(xxhash64(gram), GRAM_INDEX_BUCKETS), so a
# probe statically prunes to the directories its own grams can hash
# into. 64 keeps directory counts trivial while already giving a small
# eval suite (whose distinct grams rarely cover every bucket) a real
# scan cut; at 100 TB the same layout holds — raise the constant with
# corpus size. Safe to raise (r8 ADVICE): the artifact kind is DERIVED
# from this constant (queries_curation.CONTAM_INDEX_KIND embeds it), so
# a bump retires the old artifact key instead of probing a stale
# 64-bucket layout with new-modulus bucket ids — which would silently
# prune away true contamination hits.
GRAM_INDEX_BUCKETS = 64

# Hard ceiling for the eval-gram driver snapshot in
# decontaminate_against_index: the eval side is collected AND broadcast,
# so it must stay driver-sized. 5M (gram, doc_id) rows is ~hundreds of
# MB — far above any real eval suite, far below what would OOM a
# driver; the bound exists to fail LOUDLY if a caller ever routes a
# train-sized relation through the small side.
EVAL_SNAPSHOT_MAX_ROWS = 5_000_000


def gram_bucket(col: str | Column) -> Column:
    """The ONE bucket function shared by the index builder and every
    prober — both sides must hash identically or pruning would drop
    true hits. xxhash64 is a deterministic JVM expression."""
    return F.pmod(F.xxhash64(col), F.lit(GRAM_INDEX_BUCKETS))


def decontaminate_against_index(
    eval_grams: DataFrame,
    gram_index: DataFrame,
    stable_input: bool = False,
    n_rows: int | None = None,
) -> DataFrame:
    """Per-eval-document contamination hit counts against a persisted
    train-gram index — the cross-corpus analog of
    :func:`incremental_neardup` (broadcast the small arriving side,
    never reshuffle the big stored side), keyed on content n-grams
    instead of LSH bands.

    ``eval_grams``: (doc_id, gram), DISTINCT per document (the
    caller's contract) — the eval suite. Eval suites are small by
    definition (benchmarks are MBs; the train corpus is the 100 TB
    side), so this side broadcasts. Snapshotted HERE to a driver-local
    relation before the bucket-pruning collect, so the collect and the
    probe are guaranteed to see the same grams without pinning a
    persisted relation for the session.
    ``gram_index``: (gram), distinct — the stored train-gram index (a
    ``build_once`` parquet artifact), scanned in place. When it
    carries the ``gbucket`` partition column (written via
    :func:`gram_bucket`), the probe statically prunes the scan to the
    buckets the eval grams actually hash into: the collected bucket
    set is bounded by GRAM_INDEX_BUCKETS values by pigeonhole —
    bounded driver traffic at any eval size — and lands in the scan's
    ``PartitionFilters`` (plan-pinned), so only matching directories
    are ever listed or read.

    Returns (doc_id, n_hit): how many of the doc's grams occur in the
    index. Zero-hit docs don't appear — an INNER broadcast join keeps
    the index side exchange-free (an outer join could never broadcast
    its preserved side, the same shape note as ``contamination_probe``);
    the caller restores them with an eval-sized left join.

    Scale: the index is NEVER reshuffled (the broadcast hash join
    streams its pruned scan); only eval-sized matched rows reach the
    aggregation. Probe cost is one pruned index scan + an eval-sized
    shuffle, independent of how the train corpus grows.

    ``stable_input`` (r16, guide §1.2 "don't compute things you throw
    away"): the defensive snapshot exists to make the bucket collect
    and the broadcast probe read byte-identical grams when the input
    could be LAZY over a recomputed upstream. Both engine callers
    already hand this function an ACTION-STABLE relation — a
    driver-local createDataFrame snapshot (substring_span_incremental)
    or a materialize_scoped persist+count barrier
    (decontaminate_eval_join) — so for them the internal pre-count,
    toArrow and re-createDataFrame were three redundant driver jobs
    per probe re-proving a property the caller established. With
    ``stable_input=True`` the function skips them and enforces the
    driver-size contract against ``n_rows``, which the caller MUST
    supply from its own barrier (the Arrow snapshot's ``num_rows`` /
    the materializing count) — the bound stays loud, the two actions
    still read identical grams by the caller's stability guarantee,
    and the emitted rows are unchanged (same grams, same joins).
    """
    if "gbucket" in gram_index.columns and stable_input:
        if n_rows is None:
            raise ValueError(
                "decontaminate_against_index: stable_input=True requires "
                "n_rows from the caller's own materializing action — the "
                "driver-size bound must stay enforced."
            )
        if n_rows > EVAL_SNAPSHOT_MAX_ROWS:
            raise ValueError(
                f"decontaminate_against_index: eval_grams has "
                f"{n_rows} rows (> {EVAL_SNAPSHOT_MAX_ROWS}); the "
                "eval side must be small (it is collected AND "
                "broadcast). Index the big side."
            )
        buckets = [
            r[0]
            for r in eval_grams.select(gram_bucket("gram"))
            .distinct()
            .collect()
        ]
        gram_index = gram_index.filter(
            F.col("gbucket").isin(buckets) if buckets else F.lit(False)
        )
    elif "gbucket" in gram_index.columns:
        # Snapshot eval_grams to a driver-local relation BEFORE the
        # bucket collect (r8 ADVICE lineage): the collect and the
        # broadcast probe below are two separate actions over the same
        # relation — were it lazy over a nondeterministic source, its
        # grams could hash to different buckets between the two, and
        # the static PartitionFilter would silently drop true hits.
        # A LOCAL snapshot (not persist+count, the r8 shape) makes
        # both actions read byte-identical grams BY CONSTRUCTION and
        # pins nothing in the executor cache for the session (r9
        # ADVICE: the persist here leaked one pinned relation per
        # invocation with no handle to release it). Driver traffic is
        # unchanged: the eval side is small by contract and the
        # F.broadcast below already ships the whole relation through
        # the driver — the snapshot is the same bytes, once. Snapshot
        # via toArrow()+createDataFrame(pa.Table), NOT toPandas():
        # pandas coerces a nullable LongType to float64 (NaN for
        # null), and the unchecked cast back to long
        # (convertToArrowArraySafely=false default) can silently
        # corrupt ids (r10 ADVICE). Arrow int64 carries nulls and
        # >2^53 ids exactly (regression-pinned in tests/test_dedup.py)
        # while staying vectorized both ways — the r11 collect()+Rows
        # shape was equally exact but serialized row-by-row through
        # Python on BOTH legs, the attributed cause of that round's
        # +0.76 s drift on decontaminate_eval_join (measured 2.2×
        # slower than this on a 120k-row roundtrip; DETERMINISM.md
        # r12).
        spark = eval_grams.sparkSession
        # The "eval side is small" contract, enforced rather than
        # documented — and enforced BEFORE the driver materialization
        # (r12 review: checking the Arrow table's num_rows after
        # toArrow() cannot prevent the driver OOM the bound documents;
        # a distributed count is safe at ANY size). One extra pass
        # over the eval-sized relation; the catalog callers either
        # read it from a materialized barrier or bound it upstream by
        # construction.
        n_rows = eval_grams.count()
        if n_rows > EVAL_SNAPSHOT_MAX_ROWS:
            raise ValueError(
                f"decontaminate_against_index: eval_grams has "
                f"{n_rows} rows (> {EVAL_SNAPSHOT_MAX_ROWS}); the "
                "eval side must be small (it is collected AND broadcast). "
                "Index the big side."
            )
        snap = eval_grams.toArrow()
        # Backstop AFTER materialization too (r12 ADVICE): the count()
        # above and the toArrow() are two separate actions over the
        # same relation — a nondeterministic upstream could pass the
        # count yet materialize more rows in the snapshot job. The
        # data is already on the driver here, so the check is free and
        # turns that silent divergence into a loud failure.
        if snap.num_rows > EVAL_SNAPSHOT_MAX_ROWS:
            raise ValueError(
                f"decontaminate_against_index: eval_grams materialized "
                f"{snap.num_rows} rows (> {EVAL_SNAPSHOT_MAX_ROWS}) after "
                f"passing a {n_rows}-row pre-count — the eval relation is "
                "nondeterministic between actions; snapshot it upstream."
            )
        eval_grams = spark.createDataFrame(snap, schema=eval_grams.schema)
        buckets = [
            r[0]
            for r in eval_grams.select(gram_bucket("gram"))
            .distinct()
            .collect()
        ]
        gram_index = gram_index.filter(
            F.col("gbucket").isin(buckets) if buckets else F.lit(False)
        )
    hits = gram_index.join(F.broadcast(eval_grams), "gram")
    return hits.groupBy("doc_id").agg(F.count("*").alias("n_hit"))


def simhash_signatures(
    df: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """32-bit SimHash per document over distinct word n-gram shingles.

    Shingles, not tokens: on a shared-vocabulary corpus token sets are
    nearly identical across documents and token-SimHash collapses
    (measured: thousands of random pairs at Hamming ≤ 1); shingle sets
    carry the real similarity signal.

    Per bit b: sign of Σ_shingles (2*bit_b(h(shingle)) - 1); signature
    is the packed bit vector. Explode → 32 conditional-sum aggregates —
    one narrow shuffle, all integer math. Pass cached ``shingle_sets``
    to make the explode an array-unnest of precomputed longs.
    """
    if shingle_sets is not None:
        sh = shingle_sets.select("id", F.explode("sh_set").alias("shingle"))
    elif df is None:
        # The explicit both-None guard jaccard_pairs has always had
        # (r12 review: this previously died as AttributeError deep in
        # word_shingles instead of naming the misuse).
        raise ValueError("need df or shingle_sets")
    else:
        sh = word_shingles(df, text_col=text_col, id_col=id_col)
    # Shingles arrive pre-hashed; the 32 bit aggregates are shift/mask
    # integer math over the long (no md5 recomputation anywhere).
    hashed = sh.select("id", F.col("shingle").alias("h"))
    aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = hashed.groupBy("id").agg(*aggs)
    sig = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{b}") >= 0, F.lit(2**b).cast("long")).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return sums.select("id", sig.alias("simhash"))


def simhash_near_pairs(sigs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Pairs whose SimHash Hamming distance ≤ max_hamming.

    Candidate generation blocks on 8-bit signature bytes (a pair within
    distance d must agree on ≥1 of d+1 blocks — here 4 blocks covers
    d≤3 exactly and d≤6 with high recall at bounded join fan-out);
    exact distance then filters. At 100 TB this is the standard
    bit-block LSH; never an all-pairs product.
    """
    # Melt the 4 byte-blocks to (id, simhash, blk_i, blk) rows — one
    # stack projection — and generate candidates with a SINGLE
    # self-equi-join keyed on (blk_i, blk): one shuffle of 4N rows
    # instead of 4 joins + union, same candidate set.
    blocks = ", ".join(
        f"{i}, shiftright(simhash, {8 * i}) & 255" for i in range(4)
    )
    melted = sigs.selectExpr(
        "id", "simhash", f"stack(4, {blocks}) AS (blk_i, blk)"
    )
    a, b = melted.alias("a"), melted.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk_i") == F.col("b.blk_i"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.simhash").alias("sh_a"),
        F.col("b.simhash").alias("sh_b"),
    )
    dist = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # Filter BEFORE the dedup exchange (r12 review): the hamming test
    # is a pure per-row function of the pair, and block-sharing pairs
    # routinely fail it — filtering first cuts the distinct()'s
    # shuffle volume by the reject rate times the up-to-4x per-band
    # duplication, with an identical result set.
    return (
        pairs.select("id_a", "id_b", dist.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
    n_blocks: int = 16,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ threshold), exact.

    Distributed block self-join: each vector hashes into one of
    ``n_blocks`` blocks, every unordered block pair (i ≤ j) becomes one
    ``applyInPandas`` group, and each group scores its two blocks
    against each other with a single BLAS matmul. Only the
    (id_a, id_b, cosine) rows above the threshold leave a task.

    Scale shape: zero driver-side materialization; shuffle volume is
    N·(n_blocks+1) vector rows (each vector participates in n_blocks+1
    of the n_blocks·(n_blocks+1)/2 group matmuls); per-task memory is
    O(2·N/n_blocks · dim) — raise ``n_blocks`` with √corpus so blocks
    keep fitting in executor memory while FLOPs stay O(N²·d) in native
    BLAS. This is the exact path: a 0.45 threshold sits far below
    LSH-blocking recall (banding only pays above ~0.8 cosine), so
    brute force over block pairs is what a correct near-dup pass needs;
    for high-threshold corpora compose :func:`simhash_near_pairs` /
    minhash banding as the prefilter instead.

    Corpus caveat (TESTDATA.md §Embedding-space structure): the test
    embeddings are isotropic noise (z10 ≈ 2), so the 0.45 threshold
    fires only on the bulk's tail here — the gates verify blocking,
    exactness and determinism; the threshold binds semantically on
    real near-dup corpora (z10 ≫ 2 per ``embedding_margin_report``).
    """
    import numpy as np

    src = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    # Block k's vectors serve as the "left" matrix of group (k, j) for
    # every j ≥ k, and as the "right" matrix of group (i, k) for every
    # i ≤ k; sequence+explode emits exactly those group memberships.
    lefts = src.select(
        F.col("blk").alias("pi"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("pj"),
        "id",
        "v",
        F.lit(0).alias("side"),
    )
    rights = src.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("pi"),
        F.col("blk").alias("pj"),
        "id",
        "v",
        F.lit(1).alias("side"),
    )

    def score(key, pdf):
        import pandas as pd

        same_block = key[0] == key[1]
        l = pdf[pdf["side"] == 0]
        r = pdf[pdf["side"] == 1]
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        if l.empty or r.empty:
            return empty
        idl = l["id"].to_numpy()
        idr = r["id"].to_numpy()
        a = np.vstack(l["v"].to_numpy()).astype(np.float64)
        b = np.vstack(r["v"].to_numpy()).astype(np.float64)
        # Zero-norm guard (r12 review, same as similarity.knn_join /
        # _pair_cosine_batch): an all-zero vector scores ~0 against
        # everything instead of NaN; bit-identical for real vectors.
        a /= np.maximum(np.linalg.norm(a, axis=1, keepdims=True), 1e-12)
        b /= np.maximum(np.linalg.norm(b, axis=1, keepdims=True), 1e-12)
        s = np.round(a @ b.T, 6)
        mask = s >= threshold
        if same_block:
            # left and right are the same set: keep each unordered pair
            # once (strict id order also drops self-pairs)
            mask &= idl[:, None] < idr[None, :]
        else:
            mask &= idl[:, None] != idr[None, :]
        ii, jj = np.nonzero(mask)
        return pd.DataFrame(
            {
                "id_a": np.minimum(idl[ii], idr[jj]),
                "id_b": np.maximum(idl[ii], idr[jj]),
                "cosine": s[ii, jj],
            }
        )

    return (
        lefts.unionAll(rights)
        .groupBy("pi", "pj")
        .applyInPandas(score, schema="id_a long, id_b long, cosine double")
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair list: (node, comp)
    with ``comp`` = smallest id reachable from the node.

    Min-label propagation with pointer jumping: each round takes the
    minimum label over the node's neighbors, then composes the label
    table with itself (comp := comp-of-comp), so convergence needs
    O(log diameter) rounds instead of O(diameter) — near-dup clusters
    are shallow, so 2-3 rounds close them. One convergence check per
    round (a scalar count); ``localCheckpoint`` truncates the loop
    lineage so plan size stays constant. This is the step that turns
    a PAIR list into the per-cluster decision a dedup pipeline
    actually needs.
    """
    # Undirected edge list in ONE pass over pairs: exploding both
    # orientations per row keeps the (possibly expensive) pair-producing
    # pipeline in a single plan branch — a union of (forward, swapped)
    # reads pairs twice, and the two branches race to populate any
    # upstream cache inside one job, duplicating the whole pipeline.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.*")
        .distinct()
        .persist()
    )
    # seed with one neighbor-min round baked in: comp = min(node, nbrs)
    labels = (
        edges.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.min("b"), F.first("a")).alias("comp"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr = edges.join(labels, edges.a == labels.node).select(
            F.col("b").alias("node"), "comp"
        )
        m1 = (
            labels.select("node", "comp")
            .unionByName(nbr)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jump: follow comp one more hop through the PREVIOUS
        # label table (checkpointed → cheap; composing via the new one
        # would compute m1 twice). Monotone accelerator only — the
        # neighbor-min rounds alone guarantee convergence.
        hop = labels.select(
            F.col("node").alias("c_node"), F.col("comp").alias("c_comp")
        )
        new = (
            m1.join(hop, m1.comp == hop.c_node, "left")
            .select("node", F.coalesce("c_comp", "comp").alias("comp"))
            .localCheckpoint()
        )
        changed = (
            new.join(labels.withColumnRenamed("comp", "old"), "node")
            .filter(F.col("comp") < F.col("old"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    edges.unpersist()
    return labels


def neardup_keep_list(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    components: DataFrame | None = None,
) -> DataFrame:
    """Per-document dedup verdict: (id, comp, keep).

    Components come from :func:`connected_components` over the pair
    list (or a precomputed/persisted ``components`` relation — the
    stored-artifact lifecycle of a real dedup pipeline); the canonical
    survivor of each cluster is its smallest id (deterministic,
    engine-portable), singletons keep themselves. One broadcast-sized
    left join against the corpus id column — the payload never moves.
    """
    cc = components if components is not None else connected_components(pairs)
    return (
        docs.select(F.col(id_col))
        .join(cc, docs[id_col] == cc.node, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("comp"), F.col(id_col)).alias("comp"),
            (F.coalesce(F.col("comp"), F.col(id_col)) == F.col(id_col)).alias(
                "keep"
            ),
        )
    )


# ---- oracle-SQL generators (same constants, DuckDB dialect) ----------------


def shingles_cte(n: int = NGRAM_N) -> str:
    """DuckDB CTE producing distinct hashed (id, shingle) from
    documents — the bit-exact twin of :func:`word_shingles`."""
    parts = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return f"""
    toks AS (SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents),
    idx AS (SELECT id, toks, unnest(generate_series(1, len(toks)-{n - 1})) AS i FROM toks),
    shingles AS (SELECT DISTINCT id, {hex60_sql(f"({parts})")} AS shingle FROM idx)
    """


def hex60_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def minhash_select_sql() -> str:
    """DuckDB aggregate list computing mh0..mh7 from `shingles`
    (shingle already hashed by :func:`shingles_cte`)."""
    h = f"(shingle % {HASH_PRIME})"
    cols = ", ".join(
        f"min(({a} * {h} + {b}) % {HASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    return f"SELECT id, {cols} FROM shingles GROUP BY id"


def lsh_cand_cte() -> str:
    """DuckDB CTE chain `shingles, sigs, cand` producing the banded
    MinHash-LSH candidate pair list — shared by the verified-pairs
    oracle below and any oracle that verifies candidates differently
    (e.g. ``dedup_edit_distance``'s Levenshtein check)."""
    return f"""{shingles_cte()},
    sigs AS ({minhash_select_sql()}),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM sigs a JOIN sigs b
        ON a.id < b.id AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1)
                         OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3)
                         OR (a.mh4 = b.mh4 AND a.mh5 = b.mh5)
                         OR (a.mh6 = b.mh6 AND a.mh7 = b.mh7)))"""


def minhash_pairs_sql(threshold_num: int = 1, threshold_den: int = 2) -> str:
    """Full DuckDB statement for the MinHash-LSH verified pair list
    (the ``dedup_minhash_lsh`` oracle) — reused as the edge input of
    the connected-components / keep-list oracles."""
    return f"""
    WITH {lsh_cand_cte()},
    sizes AS (SELECT id, count(*) AS n_sh FROM shingles GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
      FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2)
    SELECT c.id_a, c.id_b,
           CAST(common AS DOUBLE) / CAST(x.n_sh + y.n_sh - common AS DOUBLE) AS jaccard
    FROM common c JOIN cand ON c.id_a = cand.id_a AND c.id_b = cand.id_b
         JOIN sizes x ON c.id_a = x.id JOIN sizes y ON c.id_b = y.id
    WHERE {threshold_den} * common >= {threshold_num} * (x.n_sh + y.n_sh - common)
    """


def incremental_sql(
    batch_pred: str = "doc_id % 5 = 4",
    threshold_num: int = 1,
    threshold_den: int = 2,
    include_batch_pairs: bool = True,
) -> str:
    """DuckDB twin of :func:`incremental_neardup` with the new batch
    defined by ``batch_pred`` over documents: per new doc, the keep
    verdict vs the existing corpus and smaller-id batch members.
    ``include_batch_pairs=False`` restricts to existing→new pairs only
    (the streaming probe semantics, where in-batch dedup is handled
    separately by ``dropDuplicatesWithinWatermark``)."""
    in_batch = (
        "OR a.id < b.id" if include_batch_pairs else ""
    )
    return f"""
    WITH {shingles_cte()},
    sigs AS ({minhash_select_sql()}),
    newids AS (SELECT DISTINCT doc_id AS id FROM documents WHERE {batch_pred}),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM sigs a JOIN sigs b
        ON b.id IN (SELECT id FROM newids)
       AND (a.id NOT IN (SELECT id FROM newids) {in_batch})
       AND a.id != b.id
       AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1)
         OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3)
         OR (a.mh4 = b.mh4 AND a.mh5 = b.mh5)
         OR (a.mh6 = b.mh6 AND a.mh7 = b.mh7))),
    sizes AS (SELECT id, count(*) AS n_sh FROM shingles GROUP BY id),
    common AS (
      SELECT s1.id AS id_a, s2.id AS id_b, count(*) AS common
      FROM shingles s1 JOIN shingles s2
        ON s1.shingle = s2.shingle AND s1.id != s2.id
      GROUP BY 1, 2),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN common m ON m.id_a = c.id_a AND m.id_b = c.id_b
           JOIN sizes x ON c.id_a = x.id JOIN sizes y ON c.id_b = y.id
      WHERE {threshold_den} * m.common
            >= {threshold_num} * (x.n_sh + y.n_sh - m.common))
    SELECT n.id AS doc_id, MIN(v.id_a) AS dup_of,
           (MIN(v.id_a) IS NULL) AS keep
    FROM newids n LEFT JOIN verified v ON v.id_b = n.id
    GROUP BY n.id
    """


def components_sql() -> str:
    """DuckDB twin of :func:`connected_components` over the MinHash
    pair list: transitive min-label closure via a recursive CTE
    (UNION-dedup guarantees termination; graphs are pair-list-sized)."""
    return f"""
    WITH RECURSIVE pairs AS ({minhash_pairs_sql()}),
    und AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(node, lbl) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.node
    )
    SELECT node, MIN(lbl) AS comp FROM reach GROUP BY node
    """


def simhash_select_sql() -> str:
    """DuckDB query computing (id, simhash) from a `shingles` CTE
    (pair with :func:`shingles_cte`; shingle already hashed)."""
    h = "shingle"
    sums = ", ".join(
        f"sum(CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(SIMHASH_BITS)
    )
    packed = " + ".join(
        f"(CASE WHEN b{b} >= 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return (
        f"WITH sums AS (SELECT id, {sums} FROM shingles GROUP BY id) "
        f"SELECT id, {packed} AS simhash FROM sums"
    )


# ---- winnowing fingerprints (rolling-hash document fingerprinting) ---------

WINNOW_WINDOW = 4


def positional_shingle_hashes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = NGRAM_N
) -> DataFrame:
    """(id, i, h): hashed word n-grams WITH their start position —
    the ordered stream winnowing slides over (word_shingles drops
    order and duplicates; this keeps both)."""
    toks = F.split(F.col(text_col), " ")
    base = fan_out(df.select(F.col(id_col).alias("id"), toks.alias("toks")))
    offsets = F.when(
        F.size("toks") >= n, F.sequence(F.lit(1), F.size("toks") - (n - 1))
    ).otherwise(F.expr("array()"))
    # explode_outer + null-filter: keeps InferFiltersFromGenerate from
    # pushing a size(offsets)>0 twin of the offsets expression below
    # the fan_out Exchange into the single-task scan (the word_shingles
    # fix, r15 optimization); sequence elements are never null, so the
    # filter drops exactly the empty-offset docs plain explode dropped.
    pos = base.select(
        "id", "toks", F.explode_outer(offsets).alias("i")
    ).filter(F.col("i").isNotNull())
    # same slice+array_join construction as word_shingle_sets (the
    # bit-sync contract the oracles and test_properties pin)
    shingle = F.array_join(F.slice("toks", F.col("i"), n), " ")
    return pos.select("id", "i", hex60(shingle).alias("h"))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = NGRAM_N,
    w: int = WINNOW_WINDOW,
) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken): the distinct set of
    per-window minimum hashes over every full window of ``w``
    consecutive n-gram hashes. Guarantees any shared run of
    ``w + n - 1`` tokens yields a shared fingerprint — the
    position-robust dedup key (plagiarism-detection standard).

    One narrow shuffle on id (window sort); output is ~1/w of the
    shingle stream, distinct-ed to (id, fp).
    """
    from pyspark.sql import Window as W

    pos = positional_shingle_hashes(df, text_col=text_col, id_col=id_col, n=n)
    win = W.partitionBy("id").orderBy("i").rowsBetween(0, w - 1)
    full = W.partitionBy("id")
    return (
        pos.select(
            "id",
            "i",
            F.min("h").over(win).alias("fp"),
            F.count("*").over(full).alias("m"),
        )
        .filter(F.col("i") <= F.col("m") - w + 1)
        .select("id", "fp")
        .distinct()
    )


def winnow_sql(n: int = NGRAM_N, w: int = WINNOW_WINDOW) -> str:
    """DuckDB twin of :func:`winnow_fingerprints` over documents."""
    parts = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return f"""
    WITH toks AS (SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents),
    idx AS (SELECT id, toks, unnest(generate_series(1, len(toks)-{n - 1})) AS i FROM toks),
    pos AS (SELECT id, i, {hex60_sql(f"({parts})")} AS h FROM idx),
    sel AS (
      SELECT id, i,
             min(h) OVER (PARTITION BY id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp,
             count(*) OVER (PARTITION BY id) AS m
      FROM pos)
    SELECT DISTINCT id, fp FROM sel WHERE i <= m - {w} + 1
    """
