"""exec_util scratch-artifact lifecycle: snapshot keying + build_once."""

from __future__ import annotations

import os

import pytest

from etl_projects_spark.operators.exec_util import build_once, scratch_path


def test_scratch_path_keys_on_source_snapshot(tmp_path):
    """A regenerated source file (new mtime) must map to a NEW scratch
    path — the driver's vanilla session must never reuse an artifact
    built from a previous testdata vintage (VERDICT r3 item 10)."""
    src = tmp_path / "orders.parquet"
    src.write_text("v1")
    p1 = scratch_path("k", str(src))
    assert p1 == scratch_path("k", str(src))  # stable for one snapshot
    os.utime(src, (1000, 1000))  # simulate driver regenerating testdata
    p2 = scratch_path("k", str(src))
    assert p1 != p2
    # distinct artifact kinds over the same snapshot never collide
    assert scratch_path("a", str(src)) != scratch_path("b", str(src))


def test_scratch_path_same_second_regeneration(tmp_path):
    """A source rewritten within the SAME whole second (different size
    or sub-second mtime) must still mint a new key — whole-second
    mtime keying silently reused stale artifacts (ADVICE r4)."""
    src = tmp_path / "docs.parquet"
    src.write_text("v1")
    os.utime(src, ns=(1_000_000_000_000, 1_000_000_000_000))
    p1 = scratch_path("samesec", str(src))
    # same integer second, different nanosecond component
    os.utime(src, ns=(1_000_000_000_000, 1_000_000_500_000))
    p2 = scratch_path("samesec", str(src))
    assert p1 != p2
    # same mtime entirely, different size → still a new key
    src.write_text("v2-longer")
    os.utime(src, ns=(1_000_000_000_000, 1_000_000_500_000))
    p3 = scratch_path("samesec", str(src))
    assert p3 != p2


def test_scratch_path_prunes_stale_vintages(tmp_path):
    """Once the CURRENT vintage's artifact exists, older vintages of
    the same (kind, source paths) are pruned — but never before the
    new artifact is built (a crashed build must leave the previous
    artifact intact), and never across different source paths (another
    SF's live artifact of the same kind must survive)."""
    src = tmp_path / "t.parquet"
    src.write_text("v1")
    p1 = scratch_path("prunekind", str(src))
    os.makedirs(p1, exist_ok=True)
    os.utime(src, ns=(2_000_000_000_000, 2_000_000_000_000))
    p2 = scratch_path("prunekind", str(src))
    assert p2 != p1
    # new artifact not built yet -> old vintage must still be there
    assert os.path.exists(p1)
    os.makedirs(p2, exist_ok=True)
    scratch_path("prunekind", str(src))
    assert not os.path.exists(p1)  # now pruned
    assert os.path.exists(p2)
    # a different source path (e.g. another SF) of the same kind is
    # never pruned
    other_src = tmp_path / "other_sf.parquet"
    other_src.write_text("v1")
    other = scratch_path("prunekind", str(other_src))
    os.makedirs(other, exist_ok=True)
    scratch_path("prunekind", str(src))
    assert os.path.exists(other)
    # other kinds' artifacts are untouched
    kind_b = scratch_path("otherkind", str(src))
    os.makedirs(kind_b, exist_ok=True)
    scratch_path("prunekind", str(src))
    assert os.path.exists(kind_b)


def test_build_once_builds_exactly_once(tmp_path):
    calls = []

    def build(tmp):
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "done"), "w") as f:
            f.write("ok")
        calls.append(1)

    path = str(tmp_path / "artifact")
    build_once(path, build, marker="done")
    build_once(path, build, marker="done")
    assert len(calls) == 1
    assert os.path.exists(os.path.join(path, "done"))


def test_build_once_replaces_sentinel_less_squatter(tmp_path):
    """r6 review: a directory at the target WITHOUT build_once's
    completion sentinel (half-copied squatter, pre-sentinel vintage)
    must be replaced by a fresh build — previously the stale directory
    was silently returned while every call rebuilt and discarded its
    own copy."""
    import os

    from etl_projects_spark.operators.exec_util import (
        BUILD_ONCE_SENTINEL,
        build_once,
    )

    squatter = tmp_path / "artifact"
    (squatter / "junk").mkdir(parents=True)  # exists, no sentinel

    def build(tmp):
        os.makedirs(tmp, exist_ok=True)
        open(os.path.join(tmp, "data"), "w").close()

    assert build_once(str(squatter), build) == str(squatter)
    assert os.path.exists(squatter / BUILD_ONCE_SENTINEL)
    assert os.path.exists(squatter / "data")
    assert not os.path.exists(squatter / "junk")  # squatter replaced


def test_build_once_requires_declared_marker(tmp_path):
    """A caller-declared marker the builder never writes must raise at
    build time (a committer-dependent marker like a partitioned
    write's _SUCCESS was the silent-rebuild trap)."""
    import os

    import pytest

    from etl_projects_spark.operators.exec_util import build_once

    def build(tmp):
        os.makedirs(tmp, exist_ok=True)

    with pytest.raises(RuntimeError, match="never writes"):
        build_once(str(tmp_path / "a"), build, marker="stats.json")


def test_build_once_reraises_non_dest_exists_oserror(tmp_path, monkeypatch):
    """r6 ADVICE: a transient rename failure (EACCES etc.) must NOT
    trigger the destructive replace branch — it could rmtree a
    directory this process never created. Only dest-exists errnos
    (ENOTEMPTY/EEXIST/ENOTDIR) may replace; everything else re-raises."""
    import errno
    import os as _os

    from etl_projects_spark.operators.exec_util import build_once

    victim = tmp_path / "artifact"
    (victim / "precious").mkdir(parents=True)  # exists, no sentinel

    def build(tmp):
        _os.makedirs(tmp, exist_ok=True)

    real_rename = _os.rename

    def flaky_rename(src, dst):
        if dst == str(victim):
            raise OSError(errno.EACCES, "transient denial", dst)
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", flaky_rename)
    with pytest.raises(OSError) as exc:
        build_once(str(victim), build)
    assert exc.value.errno == errno.EACCES
    assert (victim / "precious").exists()  # nothing was destroyed


def test_release_scope_unknown_scope_is_a_noop(spark):
    """release_scope on a never-pinned scope must not throw and must
    not disturb existing pins (teardown paths call it defensively)."""
    from etl_projects_spark.operators.exec_util import (
        materialize_scoped,
        release_scope,
    )

    def pinned() -> int:
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    baseline = pinned()
    release_scope("test.never_pinned_scope")
    assert pinned() == baseline
    materialize_scoped(spark.range(5), "test.noop_neighbor")
    release_scope("test.never_pinned_scope", session=spark)
    assert pinned() == baseline + 1, "unknown-scope release touched a pin"
    release_scope("test.noop_neighbor")
    assert pinned() == baseline


def test_materialize_scoped_releases_lock_during_job(spark, monkeypatch):
    """r14 ADVICE (low): the global _PINS_LOCK must NOT be held across
    the materialize count job — an unrelated scope's pin would block
    for the whole job. The sentinel protocol claims the slot under the
    lock, runs the job outside it, then swaps token→relation."""
    from etl_projects_spark.operators import exec_util

    seen: dict[str, bool] = {}
    real = exec_util.materialize

    def probe(df, action=None):
        seen["locked_during_job"] = exec_util._PINS_LOCK.locked()
        return real(df, action=action)

    monkeypatch.setattr(exec_util, "materialize", probe)
    exec_util.materialize_scoped(spark.range(3), "test.lock_probe")
    assert seen["locked_during_job"] is False, (
        "_PINS_LOCK held across the materialize job — unrelated scopes "
        "would block for its duration"
    )
    exec_util.release_scope("test.lock_probe")


def test_materialize_scoped_race_loser_unpersists_itself(spark, monkeypatch):
    """Sentinel-collision path: if a same-scope racer finishes while
    our materialize is in flight (our claim token is gone from the
    registry), OUR relation must be unpersisted — nothing pinned
    outside the registry (the r14-review leak stays closed) — and the
    racer's pin must be left untouched."""
    from etl_projects_spark.operators import exec_util

    def pinned() -> int:
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    scope = "test.race_scope"
    key = (id(spark), scope)
    baseline = pinned()
    real = exec_util.materialize
    state: dict[str, object] = {}

    def hijack(df, action=None):
        out = real(df, action=action)
        # Simulate the racer completing mid-flight: it popped our
        # token and installed its own materialized relation.
        winner = real(spark.range(99))
        state["winner"] = winner
        with exec_util._PINS_LOCK:
            exec_util._SCOPED_PINS[key] = (spark, winner)
        return out

    monkeypatch.setattr(exec_util, "materialize", hijack)
    got = exec_util.materialize_scoped(spark.range(7), scope)
    assert got.count() == 7  # loser's relation still usable (recomputes)
    assert exec_util._SCOPED_PINS[key][1] is state["winner"], (
        "the loser overwrote the racer's registry pin"
    )
    assert pinned() == baseline + 1, (
        "the losing relation stayed pinned outside the registry"
    )
    exec_util.release_scope(scope)
    assert pinned() == baseline


def test_materialize_raising_action_releases_pin(spark):
    """A materializing action that raises (e.g. approxQuantile on a
    non-numeric column) must not leave the relation persisted: the
    caller never receives the frame, so nothing could release it."""
    from etl_projects_spark.operators.exec_util import materialize

    def pinned() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    baseline = pinned()

    def failing(df):
        df.count()
        raise RuntimeError("probe failed")

    with pytest.raises(RuntimeError, match="probe failed"):
        materialize(spark.range(10), action=failing)
    assert pinned() == baseline
