"""Execution helpers shared by operators and catalog queries."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure at least the session's default parallelism ahead of a
    CPU-bound per-row stage.

    A small corpus arriving as one parquet file scans as ONE partition
    and serializes the whole stage on a single core (measured: the
    sf0.1 shingle stage alone was 4.2 s single-task vs ~0.4 s fanned
    out). Rows here are tiny, so the round-robin shuffle is cheap next
    to the compute. At scale the scan already carries more partitions
    than cores and this is a no-op — no added shuffle.
    """
    if df.isStreaming:
        # No partition introspection on a stream; micro-batch
        # parallelism is the source's (maxFilesPerTrigger etc.).
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def materialize(df: DataFrame, action=None) -> DataFrame:
    """persist + eager action (default ``count``): a deterministic
    cache barrier.

    A lazily persisted relation that feeds MULTIPLE branches of one
    job is raced by those branches — each computes the full upstream
    before the cache is populated, duplicating the work
    nondeterministically (measured up to 5× swings on the dedup
    queries). An eager action materializes the cache exactly once,
    while — unlike localCheckpoint — keeping the full lineage visible
    to the plan audit (InMemoryTableScan retains the cached subtree).

    ``action`` (r16, guide §1.2 "don't compute things you throw
    away"): a caller who needs a FULL-SCAN driver statistic of the
    pinned relation anyway (e.g. ``prefix_sum``'s approxQuantile
    boundary probe) passes it here and that statistic's job doubles as
    the materializing pass — one job instead of a count job plus the
    probe job. The callable receives the persisted DataFrame; it must
    scan every row (approxQuantile/count-style), or the cache is only
    partially populated and downstream branches recompute the rest.
    An action that raises releases the pin before the error propagates.
    """
    df = df.persist()
    try:
        if action is None:
            df.count()
        else:
            action(df)
    except BaseException:
        df.unpersist()
        raise
    return df


# One slot per (session, scope): the previous holder is released when
# the same scope re-materializes IN THE SAME SESSION, so loops pin
# O(1) relations, not O(calls). Keyed by the owning SparkSession
# (r13 ADVICE: a scope-only key leaked pins across sessions — a dead
# session's entry survived until its scope happened to be re-entered,
# and two live sessions sharing a scope string would silently
# unpersist each other's relation, losing the measured plan shape).
# The session object itself is the key (its id is unique while the
# entry holds it alive); entries whose session has stopped are swept
# on every call, so a dead session's pin lives only until the NEXT
# materialize_scoped/release_scope anywhere in the process. The lock
# makes the pop/unpersist/pin sequence safe if a driver ever runs
# queries concurrently — though the engine's documented contract
# remains a single-threaded driver (two concurrent Spark workloads
# invalidate every measurement anyway; bench-vs-pytest rule).
import threading as _threading

# Value is (session, holder) where holder is the pinned DataFrame or —
# while a materialize is in flight — an opaque claim token (see the
# sentinel protocol in :func:`materialize_scoped`).
_SCOPED_PINS: dict[tuple[int, str], tuple[object, object]] = {}
_PINS_LOCK = _threading.Lock()


def _session_stopped(session) -> bool:
    # Only a POSITIVE determination counts as dead (r14 review): a
    # session KIND we cannot introspect (e.g. Spark Connect has no
    # _jsc) must be treated as alive — classifying it dead would make
    # every sweep pop its fresh pin without unpersisting, silently
    # reverting the registry to the unbounded one-pin-per-call leak
    # it exists to close. An unknown-alive entry costs at most one
    # bounded pin per (session, scope).
    jsc = getattr(session, "_jsc", None)
    if jsc is None:
        return False  # non-classic session: cannot probe — keep it
    try:
        return jsc.sc().isStopped()
    except Exception:
        return True  # JVM handle present but unreachable == dead


def _sweep_dead_sessions() -> None:
    """Drop pins whose owning session is stopped (caller holds the
    lock). No unpersist: a stopped session's executors — and its
    cached blocks — are already gone; poking its JVM handle can hang."""
    for key, (session, _df) in list(_SCOPED_PINS.items()):
        if _session_stopped(session):
            _SCOPED_PINS.pop(key, None)


def materialize_scoped(df: DataFrame, scope: str, action=None) -> DataFrame:
    """:func:`materialize` with a RELEASE PATH — the bounded-pin
    contract for operators invoked in loops (r12 review / r13 VERDICT
    item 4: a bare ``materialize`` inside an operator pins one cached
    relation PER INVOCATION for the session's lifetime, with no handle
    to release it; a batch-admission loop accumulates dead pins).

    At most ONE pinned relation per (session, ``scope``) survives:
    re-entering a scope in the same session unpersists the previous
    holder (non-blocking — running tasks on evicted blocks just
    recompute) before pinning the new one, so steady-state cache
    footprint is one batch-sized relation however long the session
    loops. :func:`release_scope` drops even that, and entries whose
    session has stopped are swept on every call (r13 ADVICE: the old
    scope-only key let a dead session's pin linger and let two live
    sessions clobber each other's plan shape).

    The measured A/B that keeps this a persist at all: the
    ReusedExchange route (the r12 df-cap template) does NOT fire for
    these relations — the candidate subtree feeds one shuffle-join
    branch and two BROADCAST subtrees, and exchange reuse does not
    bridge the broadcast boundary here (measured: de-persisting
    regressed dedup_incremental_batch 2.3 → 7.3 s steady at sf0.1,
    three recomputes of the index probe). The scoped handle keeps the
    2.3 s plan shape and closes the leak instead.
    """
    session = df.sparkSession
    key = (id(session), scope)
    # Sentinel protocol (r14 ADVICE): the r14 fix held _PINS_LOCK
    # across materialize(df) — a full Spark count job — so ANY
    # concurrent materialize_scoped/release_scope on an UNRELATED
    # scope blocked for the job's duration. Instead: claim the slot
    # with a unique token under the lock, run the count job OUTSIDE
    # it, then swap the token for the real relation. A same-scope
    # racer pops our token and installs its own; whoever finds their
    # token gone is the loser and unpersists their OWN relation —
    # nothing is ever pinned outside the registry (the r14-review
    # leak stays closed) and unrelated scopes never wait on a job.
    token = object()
    with _PINS_LOCK:
        _sweep_dead_sessions()
        prev = _SCOPED_PINS.pop(key, None)
        _SCOPED_PINS[key] = (session, token)
    if prev is not None and isinstance(prev[1], DataFrame):
        # (A non-DataFrame holder is another call's in-flight token —
        # that call will see it gone and unpersist its own relation.)
        try:
            prev[1].unpersist()
        except Exception:
            # A dying session can't unpersist its blocks — and has
            # already dropped them; never fail the NEW batch for it.
            pass
    df = materialize(df, action=action)
    with _PINS_LOCK:
        cur = _SCOPED_PINS.get(key)
        if cur is not None and cur[1] is token:
            _SCOPED_PINS[key] = (session, df)
            return df
    # Lost the race (or release_scope swept the token mid-flight):
    # the registry's pin is someone else's — or intentionally empty.
    # Drop ours so it never leaks; the caller's tasks just recompute.
    try:
        df.unpersist()
    except Exception:
        pass
    return df


def release_scope(scope: str, session=None) -> None:
    """Explicitly drop a :func:`materialize_scoped` pin (end of a batch
    loop / session teardown). ``session`` scopes the release to one
    session's pin; None releases the scope across ALL sessions (the
    common case — one live session per process)."""
    with _PINS_LOCK:
        _sweep_dead_sessions()
        victims = [
            key
            for key in _SCOPED_PINS
            if key[1] == scope
            and (session is None or key[0] == id(session))
        ]
        dropped = [_SCOPED_PINS.pop(key) for key in victims]
    for _session, df in dropped:
        # An in-flight token (sentinel) has no blocks to drop — its
        # owner sees the token gone and unpersists its own relation.
        if not isinstance(df, DataFrame):
            continue
        try:
            df.unpersist()
        except Exception:
            pass


def prefix_sum(
    df: DataFrame,
    order_col: str,
    val_col: str,
    out_col: str = "cumsum_excl",
    n_parts: int | None = None,
    bounds: list[float] | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """EXCLUSIVE prefix sum of ``val_col`` over the global ``order_col``
    ordering — without the single-task global window.

    ``total_col`` (r16, guide §2.4): additionally attach the GRAND
    total of ``val_col`` as a column of that name. The per-bucket
    totals relation below already holds every addend, so the grand
    total is one more window over the same ``n_parts``-row relation
    and rides the same broadcast join — callers that need "cumsum vs
    total" (budget cuts) no longer pay a separate full-relation
    aggregate job + broadcast for the total. Exact: the same BIGINT
    addends in either shape.

    ``Window.orderBy(x)`` with no partitionBy collapses the whole
    relation into ONE task; this is the classic two-phase scan
    instead: bucket rows on the order key, take a local running sum
    inside each bucket (a partitionBy window — each bucket is its own
    task), and add each bucket's offset — the exclusive cumsum of the
    per-bucket totals, a relation of ``n_parts`` rows that computes in
    one tiny single-task window and broadcasts back. Exact at any
    scale; requires ``order_col`` to be unique (ties make "exclusive
    of self" ambiguous) and NUMERIC (``approxQuantile`` below rejects
    strings/dates — encode such keys to a long first, as
    ``curriculum_schedule`` does with its composite key).

    The bucket id is a PURE EXPRESSION over driver-collected quantile
    boundaries — deliberately NOT ``repartitionByRange`` +
    ``spark_partition_id()``: the local-sum branch and the offset
    branch both descend from the bucketed node, each branch re-executes
    it with a fresh RDD id, and RangePartitioner seeds its boundary
    sampling from that id — the two executions can draw DIFFERENT
    boundaries, silently mislabeling rows between branches (caught at
    sf0.1: 4356/5000 ranks wrong after a boundary shifted 26 rows;
    smaller corpora matched by luck — DETERMINISM.md recipe 30).
    ``approxQuantile`` is sketch-based and RNG-free, so the collected
    boundaries are a deterministic function of the data, the driver
    pulls only ``n_parts - 1`` numbers (bounded at any corpus size),
    and every re-execution of either branch computes identical bucket
    ids from the same literals — no persist, no cache lifetime, no
    recompute hazard.

    COST NOTE: the ``approxQuantile`` call is an EAGER driver action at
    construction time — one extra full pass over ``df``'s (unpersisted)
    upstream plan per call. Callers whose input is an expensive
    pipeline should either materialize ``df`` first or pass
    ``bounds`` — precomputed ascending boundary values (e.g. quantiles
    collected from an already-materialized relation) — which skips the
    extra action entirely.
    """
    from pyspark.sql import Window as W

    if bounds is None:
        n = n_parts or df.sparkSession.sparkContext.defaultParallelism
        probs = [i / n for i in range(1, n)]
        bounds = df.stat.approxQuantile(order_col, probs, 0.001)
    bounds = sorted(set(bounds))
    if bounds:
        barr = F.array(*[F.lit(b) for b in bounds])
        pid = F.size(F.filter(barr, lambda b: b < F.col(order_col)))
    else:
        pid = F.lit(0)
    d = df.withColumn("_pid", pid)
    wloc = (
        W.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = d.withColumn("_loc", F.coalesce(F.sum(val_col).over(wloc), F.lit(0)))
    wpart = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offs = (
        d.groupBy("_pid")
        .agg(F.sum(val_col).alias("_tot"))
        .withColumn("_off", F.coalesce(F.sum("_tot").over(wpart), F.lit(0)))
    )
    keep = ["_pid", "_off"]
    if total_col is not None:
        wall = W.orderBy("_pid").rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )
        offs = offs.withColumn(
            total_col, F.sum("_tot").over(wall).cast("long")
        )
        keep.append(total_col)
    offs = offs.select(*keep)
    return (
        local.join(F.broadcast(offs), "_pid")
        .withColumn(out_col, (F.col("_loc") + F.col("_off")).cast("long"))
        .drop("_pid", "_loc")
    )


BUILD_ONCE_SENTINEL = ".build_once_complete"


def build_once(path: str, build, marker: str | None = None) -> str:
    """Build a directory-shaped artifact AT MOST ONCE, concurrency-safe.

    ``build(tmp_path)`` materializes the artifact into a fresh sibling
    directory; build_once then writes ITS OWN completion sentinel into
    it and renames it into ``path`` — a single atomic filesystem op, so
    a concurrent builder (e.g. pytest and the external driver hitting
    the same scratch index) can never expose a half-written directory:
    one process wins the rename, the loser discards its copy and reads
    the winner's.

    The sentinel is build_once's, NOT Spark's: relying on the writer's
    ``_SUCCESS`` was a trap — partitioned writes under dynamic
    partition-overwrite (this engine's session default) emit no
    top-level ``_SUCCESS``, so those artifacts never fast-pathed and
    silently rebuilt (and discarded the rebuild) on every call.
    ``marker`` optionally names an ADDITIONAL file the artifact must
    contain (a caller-owned stats/sidecar file).

    A directory at ``path`` that lacks the sentinel (a pre-sentinel
    vintage, or a half-copied squatter) is replaced in place on the
    next build. Concurrent replacement of such a legacy directory is
    the one unprotected window — acceptable because the repo never
    runs two Spark workloads concurrently (bench-vs-pytest rule).
    """
    import errno
    import os
    import shutil

    def done(p: str) -> bool:
        return os.path.exists(os.path.join(p, BUILD_ONCE_SENTINEL)) and (
            marker is None or os.path.exists(os.path.join(p, marker))
        )

    if done(path):
        return path
    tmp = f"{path}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    if marker is not None and not os.path.exists(os.path.join(tmp, marker)):
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"build_once: build completed but required marker {marker!r} "
            f"is missing from the artifact — the builder never writes it"
        )
    with open(os.path.join(tmp, BUILD_ONCE_SENTINEL), "w"):
        pass
    try:
        os.rename(tmp, path)
    except OSError as exc:
        if done(path):
            # Lost the race: the winner's completed artifact is in
            # place — discard our copy and read theirs.
            shutil.rmtree(tmp, ignore_errors=True)
            return path
        if exc.errno not in (errno.ENOTEMPTY, errno.EEXIST, errno.ENOTDIR):
            # NOT the dest-exists case (e.g. transient EACCES): the
            # destructive replace below could destroy a directory this
            # process never created — surface the real error instead.
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        # Incomplete/legacy directory squatting at `path`: replace it.
        shutil.rmtree(path, ignore_errors=True)
        try:
            os.rename(tmp, path)
        except OSError as exc2:
            shutil.rmtree(tmp, ignore_errors=True)
            if not done(path):
                raise RuntimeError(
                    f"build_once: cannot install artifact at {path!r} — "
                    "remove the blocking directory or fix permissions"
                ) from exc2
    return path


def scratch_path(kind: str, *source_files: str) -> str:
    """Stable scratch-artifact path keyed on the source files' (path,
    mtime_ns, size) — THE snapshot key for every per-vintage artifact
    in the repo (the dedup/IVF index helpers in ``queries_llm``
    delegate here). A new corpus/sf or regenerated
    testdata changes the key, so stale artifacts are never reused
    across data vintages. Nanosecond mtime + size (not whole-second
    mtime) so a source regenerated within the same second as the
    prior vintage still gets a fresh key.

    The name carries the PATH hash and the SNAPSHOT hash separately:
    ``spark_graft_<kind>_<path8>_<snap8>``. Dead vintages — same kind
    and same source paths, older snapshot — are pruned, but only once
    the current vintage's artifact EXISTS: pruning on the first call
    (before the caller's build) could destroy the last good artifact
    if the build crashes, and pruning across different source paths
    (e.g. another SF's artifact of the same kind) would delete
    parquet out from under that SF's live DataFrames. Distinct paths
    never collide with and are never pruned by each other."""
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    paths = "|".join(os.path.abspath(s) for s in source_files)
    snap = "|".join(
        f"{os.path.abspath(s)}@{os.stat(s).st_mtime_ns}"
        f"@{os.stat(s).st_size}"
        for s in source_files
    )
    path8 = hashlib.md5(paths.encode()).hexdigest()[:8]
    snap8 = hashlib.md5(snap.encode()).hexdigest()[:8]
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_{kind}_{path8}_{snap8}"
    )
    if os.path.exists(path):
        pattern = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_{kind}_{path8}_" + "?" * 8,
        )
        for stale in glob.glob(pattern):
            if stale != path:
                shutil.rmtree(stale, ignore_errors=True)
    return path


def scratch_glob_pattern() -> str:
    """The glob matching EVERY scratch artifact this module can have
    built — completed ``scratch_path`` dirs AND ``build_once``'s
    in-flight ``.tmp.<pid>`` siblings — under the SAME temp root
    ``scratch_path`` resolves (``tempfile.gettempdir()``, so TMPDIR is
    honored). The single source of truth for the cold-gate and
    failure-cleanup sweepers in ``tools/``: a literal "/tmp" there
    silently swept nothing under a non-default TMPDIR and left 'cold'
    runs warm (r9 ADVICE; pinned by ``tests/test_tools_scratch.py``).
    """
    import os
    import tempfile

    return os.path.join(tempfile.gettempdir(), "spark_graft_*")


def fresh_scratch(kind: str, *source_files: str) -> str:
    """A vintage-stable scratch dir WIPED on every call — for the
    write-roundtrip queries whose writes ARE the semantics (the write
    must re-execute per invocation, unlike ``build_once`` artifacts)
    but whose output is disposable: one reused path per (kind,
    source vintage) instead of a leaked mkdtemp per call."""
    import os
    import shutil

    path = scratch_path(kind, *source_files)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path
