"""session_memo stale-data guard + eviction API (ADVICE r5 / VERDICT r5
#6): a trained artifact keyed on an input directory must be invalidated
when the files underneath are rewritten, and a multi-tenant driver must
be able to evict explicitly.

Pure unit tests — ``session_memo`` treats the session as an opaque
identity key, so a sentinel object stands in for the SparkSession.
"""

from __future__ import annotations

import os

import pytest

from storm_netmonitor_spark.io import (
    clear_session_memo,
    session_memo,
    sf_fingerprint,
)


class _Session:  # identity-keyed stand-in
    pass


def _write(d, name, content=b"x"):
    with open(os.path.join(d, name), "wb") as f:
        f.write(content)


def test_memo_without_sf_dir_is_process_sticky(tmp_path):
    s = _Session()
    calls = []
    for _ in range(3):
        session_memo(s, ("k",), lambda: calls.append(1) or len(calls))
    assert calls == [1]


def test_memo_with_sf_dir_invalidates_on_rewrite(tmp_path):
    d = str(tmp_path)
    _write(d, "events.parquet", b"v1")
    s = _Session()
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    assert session_memo(s, ("model",), build, sf_dir=d) == 1
    assert session_memo(s, ("model",), build, sf_dir=d) == 1  # cache hit
    # driver regenerates the file: size changes → fingerprint changes
    _write(d, "events.parquet", b"v2-longer")
    assert session_memo(s, ("model",), build, sf_dir=d) == 2
    # a DIFFERENT session never shares entries
    assert session_memo(_Session(), ("model",), build, sf_dir=d) == 3


def test_fingerprint_covers_only_parquet_files(tmp_path):
    d = str(tmp_path)
    _write(d, "a.parquet")
    _write(d, "notes.txt")
    root, entries = sf_fingerprint(d)
    assert root == os.path.abspath(d)
    assert [e[0] for e in entries] == ["a.parquet"]
    # non-directory input degrades to a path-only fingerprint, no raise
    assert sf_fingerprint(os.path.join(d, "missing"))[1] == ()


def test_clear_session_memo_scopes_to_session():
    s1, s2 = _Session(), _Session()
    session_memo(s1, ("a",), lambda: 1)
    session_memo(s2, ("b",), lambda: 2)
    assert clear_session_memo(s1) >= 1
    # s2's entry survived; rebuilding s1's entry runs the builder again
    calls = []
    session_memo(s2, ("b",), lambda: calls.append(1) or 99)
    assert calls == []
    session_memo(s1, ("a",), lambda: calls.append(1) or 99)
    assert calls == [1]
    clear_session_memo(s2)


@pytest.mark.fast
def test_staged_streams_follow_a_rewritten_input(tmp_path, monkeypatch):
    """A staged stream is derived from the CURRENT input: rewriting
    ``events.parquet`` mid-session restages the quarter, half and dedup
    streams instead of serving the old rows (the file source can only
    replay what it was staged from)."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from storm_netmonitor_spark.streaming.alerts import _staged_quarters
    from storm_netmonitor_spark.streaming.resume import _staged_halves
    from storm_netmonitor_spark.streaming.stateful import _staged_dedup

    from .conftest import SF_SMOKE

    d = str(tmp_path / "sf")
    os.makedirs(d)
    events = os.path.join(d, "events.parquet")
    shutil.copy(os.path.join(SF_SMOKE, "events.parquet"), events)
    # staged dirs land under tmp_path, not the shared temp dir
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    s = _Session()

    def rows(src):
        return sum(
            pq.ParquetFile(os.path.join(src, f)).metadata.num_rows
            for f in os.listdir(src)
        )

    def totals():
        return (
            rows(_staged_quarters(s, d)),
            sum(n for _, n in _staged_halves(s, d)),
            rows(_staged_dedup(s, d)),
        )

    n = pq.read_metadata(events).num_rows
    assert totals() == (n, n, 2 * n)
    pq.write_table(pq.read_table(events).slice(0, n // 2), events)
    assert totals() == (n // 2, n // 2, 2 * (n // 2))
    clear_session_memo(s)


@pytest.mark.fast
def test_restage_evicts_the_superseded_entry(spark, tmp_path, monkeypatch):
    """A miss on a rewritten input replaces the entry for the old files
    instead of keeping both: one live entry per key, the old entry's
    cached frame is unpersisted and its staged dir removed."""
    import tempfile

    import pyarrow as pa

    from storm_netmonitor_spark import io as nmio
    from storm_netmonitor_spark.streaming.core import stage_stream

    d = str(tmp_path / "sf")
    os.makedirs(d)
    # staged dirs land under tmp_path, not the shared temp dir
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    _write(d, "events.parquet", b"v1")
    s = _Session()
    parts = lambda: [pa.table({"x": [1]})]  # noqa: E731
    old = session_memo(s, ("edges",), lambda: spark.range(3).cache(), sf_dir=d)
    old.count()
    old_dir = stage_stream(s, ("evict",), d, parts)
    _write(d, "events.parquet", b"v2-longer")
    new = session_memo(s, ("edges",), lambda: spark.range(4).cache(), sf_dir=d)
    new_dir = stage_stream(s, ("evict",), d, parts)
    live = [k for k in nmio._SESSION_MEMO if k[0] is s and k[1] == "edges"]
    assert len(live) == 1 and nmio._SESSION_MEMO[live[0]] is new
    assert not old.is_cached
    assert not old.storageLevel.useMemory and not old.storageLevel.useDisk
    assert not os.path.exists(old_dir) and os.listdir(new_dir)
    clear_session_memo(s)
    assert not os.path.exists(new_dir)


@pytest.mark.fast
def test_blob_dir_follows_a_rewritten_documents_file(tmp_path, monkeypatch):
    """The binary-files source stages the first documents by doc_id; a
    rewritten ``documents.parquet`` restages from the new file instead of
    serving the old blobs, and the old blobs' dir is removed."""
    import shutil
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from storm_netmonitor_spark.operators import extras

    from .conftest import SF_SMOKE

    d = str(tmp_path / "sf")
    os.makedirs(d)
    docs = os.path.join(d, "documents.parquet")
    shutil.copy(os.path.join(SF_SMOKE, "documents.parquet"), docs)
    # staged dirs land under tmp_path, not the shared temp dir
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(extras, "_BLOB_DIR_CACHE", {})

    def names(ids):
        return [f"doc_{i:06d}.bin" for i in sorted(ids)[: extras._BLOB_N_FILES]]

    t = pq.read_table(docs)
    assert sorted(os.listdir(extras._blob_dir(d))) == names(
        t.column("doc_id").to_pylist()
    )
    old_dir = extras._blob_dir(d)
    kept = t.filter(pc.greater_equal(t.column("doc_id"), 100))
    pq.write_table(kept, docs)
    assert sorted(os.listdir(extras._blob_dir(d))) == names(
        kept.column("doc_id").to_pylist()
    )
    # the superseded entry and its dir are gone
    assert len(extras._BLOB_DIR_CACHE) == 1 and not os.path.exists(old_dir)


# ---------------------------------------------------------------------------
# Cross-process disk-artifact store (VERDICT r9 #3) — pure unit tests:
# the json/dir variants need no Spark, so they run in the fast tier.
# ---------------------------------------------------------------------------


@pytest.mark.fast
def test_disk_artifact_json_trains_once_then_reads(tmp_path, monkeypatch):
    from storm_netmonitor_spark.io import disk_artifact_json

    monkeypatch.setenv("NM_ARTIFACT_DIR", str(tmp_path / "store"))
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write(d, "events.parquet", b"v1")
    calls = []

    def build():
        calls.append(1)
        # floats must survive the round-trip bit-exactly (shortest repr)
        return {"cents": [[0.1, 2.0 / 3.0, 1e-300]], "k": 3}

    first = disk_artifact_json("m", "v1", d, build, extra=(3,))
    second = disk_artifact_json("m", "v1", d, build, extra=(3,))
    assert calls == [1] and first == second
    assert second["cents"][0][1] == 2.0 / 3.0  # bit-exact float round-trip


@pytest.mark.fast
def test_disk_artifact_key_covers_fingerprint_version_and_extra(
    tmp_path, monkeypatch
):
    from storm_netmonitor_spark.io import disk_artifact_json

    monkeypatch.setenv("NM_ARTIFACT_DIR", str(tmp_path / "store"))
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write(d, "events.parquet", b"v1")
    calls = []
    build = lambda: calls.append(1) or len(calls)

    disk_artifact_json("m", "v1", d, build)
    disk_artifact_json("m", "v2", d, build)  # version bump retrains
    disk_artifact_json("m", "v1", d, build, extra=(8,))  # hyperparam retrains
    _write(d, "events.parquet", b"v2-regenerated")  # input rewrite retrains
    disk_artifact_json("m", "v1", d, build)
    assert len(calls) == 4


@pytest.mark.fast
def test_disk_artifact_dir_publishes_atomically(tmp_path, monkeypatch):
    from storm_netmonitor_spark.io import disk_artifact_dir

    monkeypatch.setenv("NM_ARTIFACT_DIR", str(tmp_path / "store"))
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write(d, "events.parquet", b"v1")

    def stage(staging):
        _write(staging, "part.bin", b"model")

    p1 = disk_artifact_dir("g", "v1", d, stage)
    # second call must NOT re-stage (builder raising proves it's not run)
    def boom(_):
        raise AssertionError("re-staged a published artifact")

    p2 = disk_artifact_dir("g", "v1", d, boom)
    assert p1 == p2
    assert open(os.path.join(p2, "part.bin"), "rb").read() == b"model"
    # no stray staging dirs left behind
    leftovers = [x for x in os.listdir(os.path.dirname(p2)) if ".tmp." in x]
    assert leftovers == []


@pytest.mark.fast
def test_prune_artifacts_age_thresholds(tmp_path, monkeypatch):
    """Old entries prune; fresh entries and RECENT .tmp stagings (a
    concurrent builder's live dir) survive; stale .tmp leftovers go."""
    import time

    from storm_netmonitor_spark.io import artifact_root, prune_artifacts

    monkeypatch.setenv("NM_ARTIFACT_DIR", str(tmp_path / "store"))
    root = artifact_root()
    old = time.time() - 30 * 86400
    recent = time.time()

    _write(root, "m-v1-aaaa.json")          # old json → pruned
    os.utime(os.path.join(root, "m-v1-aaaa.json"), (old, old))
    _write(root, "m-v1-bbbb.json")          # fresh json → kept
    os.makedirs(os.path.join(root, "g-v1-cccc"))  # old dir → pruned
    os.utime(os.path.join(root, "g-v1-cccc"), (old, old))
    os.makedirs(os.path.join(root, "g-v1-dddd.tmp.123"))  # stale tmp → pruned
    os.utime(os.path.join(root, "g-v1-dddd.tmp.123"), (old, old))
    os.makedirs(os.path.join(root, "g-v1-eeee.tmp.456"))  # live tmp → kept
    os.utime(os.path.join(root, "g-v1-eeee.tmp.456"), (recent, recent))

    assert prune_artifacts(max_age_days=14) == 3
    left = sorted(os.listdir(root))
    assert left == ["g-v1-eeee.tmp.456", "m-v1-bbbb.json"]


# ---------------------------------------------------------------------------
# Round-11 store hardening (VERDICT r10 #5 + ADVICE r10 items)
# ---------------------------------------------------------------------------


@pytest.mark.fast
def test_artifact_rebuilds_on_mtime_only_mutation(tmp_path, monkeypatch):
    """VERDICT r10 #5 — the invalidation path, proven end-to-end: mutate
    an input file WITHOUT changing its size (content regenerated, same
    byte length) and the artifact MUST rebuild, because the fingerprint
    covers (name, size, mtime_ns) of every input parquet. A stale read
    here would silently serve a model trained on the old table."""
    from storm_netmonitor_spark.io import disk_artifact_json

    monkeypatch.setenv("NM_ARTIFACT_DIR", str(tmp_path / "store"))
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write(d, "documents.parquet", b"same-size-1")
    calls = []
    build = lambda: calls.append(1) or len(calls)

    assert disk_artifact_json("m", "v1", d, build) == 1
    assert disk_artifact_json("m", "v1", d, build) == 1  # warm read
    # regenerate: SAME SIZE, different mtime (the weakest visible change)
    _write(d, "documents.parquet", b"same-size-2")
    f = os.path.join(d, "documents.parquet")
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert disk_artifact_json("m", "v1", d, build) == 2  # REBUILT


@pytest.mark.fast
def test_artifact_read_refreshes_mtime_against_pruning(tmp_path, monkeypatch):
    """ADVICE r10: prune age is LAST-USE age — an artifact a session just
    read must survive a prune pass even if it was published long ago."""
    import time

    from storm_netmonitor_spark.io import (
        artifact_root,
        disk_artifact_json,
        prune_artifacts,
    )

    monkeypatch.setenv("NM_ARTIFACT_DIR", str(tmp_path / "store"))
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write(d, "events.parquet", b"v1")
    disk_artifact_json("m", "v1", d, lambda: {"k": 1})
    root = artifact_root()
    (entry,) = os.listdir(root)
    old = time.time() - 30 * 86400
    os.utime(os.path.join(root, entry), (old, old))
    # the read refreshes mtime, so the subsequent prune keeps it
    assert disk_artifact_json("m", "v1", d, lambda: {"k": 2}) == {"k": 1}
    assert prune_artifacts(max_age_days=14) == 0
    assert os.listdir(root) == [entry]


@pytest.mark.fast
def test_artifact_root_refuses_foreign_owner(tmp_path, monkeypatch):
    """ADVICE r10: a pre-planted root owned by another uid is refused
    loudly instead of silently served from."""
    from storm_netmonitor_spark import io as nmio

    monkeypatch.setenv("NM_ARTIFACT_DIR", str(tmp_path / "store"))
    nmio.artifact_root()  # create, owned by us: fine
    real_getuid = os.getuid
    monkeypatch.setattr(nmio.os, "getuid", lambda: real_getuid() + 1)
    with pytest.raises(RuntimeError, match="owned by uid"):
        nmio.artifact_root()


@pytest.mark.fast
def test_default_artifact_root_is_uid_scoped_and_private(
    tmp_path, monkeypatch
):
    import stat as stat_mod
    import tempfile

    from storm_netmonitor_spark.io import artifact_root

    monkeypatch.delenv("NM_ARTIFACT_DIR", raising=False)
    # point tempfile at a fresh tmpdir so the default root is CREATED
    # here — asserting the 0o700 creation mode on the real /tmp root
    # would be vacuous once any earlier run created it
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    root = artifact_root()
    assert root == os.path.join(str(tmp_path), f"nm_artifacts_{os.getuid()}")
    assert stat_mod.S_IMODE(os.stat(root).st_mode) == 0o700
    assert os.stat(root).st_uid == os.getuid()


@pytest.mark.fast
def test_artifact_root_refuses_symlink(tmp_path, monkeypatch):
    """A planted symlink at the root path must be refused even when it
    points at a directory the current uid owns — makedirs(exist_ok=True)
    succeeds through it and stat follows it, so without the lstat check
    an attacker link would redirect writes AND prune deletions."""
    from storm_netmonitor_spark import io as nmio

    target = tmp_path / "victim_dir"
    target.mkdir()
    link = tmp_path / "store_link"
    os.symlink(str(target), str(link))
    monkeypatch.setenv("NM_ARTIFACT_DIR", str(link))
    with pytest.raises(RuntimeError, match="symlink"):
        nmio.artifact_root()


@pytest.mark.fast
def test_staging_paths_are_unique_per_build(tmp_path, monkeypatch):
    """ADVICE r10: two threads of one process must never share a staging
    dir — pid alone collides, pid+uuid cannot."""
    from storm_netmonitor_spark.io import _staging_path

    a = _staging_path(str(tmp_path / "art"))
    b = _staging_path(str(tmp_path / "art"))
    assert a != b and ".tmp." in a and str(os.getpid()) in a


@pytest.mark.fast
def test_publish_staging_reraises_non_race_failures(tmp_path):
    """ADVICE r10: a rename failing for a REAL reason (destination is a
    file, permissions, ENOSPC) must re-raise, not be mistaken for a lost
    publish race; a genuine lost race (destination dir exists) is
    swallowed and the loser's staging removed."""
    from storm_netmonitor_spark.io import _publish_staging

    # real failure: destination exists as a FILE → re-raise
    staging = str(tmp_path / "a.tmp.1.x")
    os.makedirs(staging)
    dest_file = str(tmp_path / "a")
    _write(str(tmp_path), "a", b"not-a-dir")
    with pytest.raises(OSError):
        _publish_staging(staging, dest_file)
    # lost race: destination DIR exists → swallowed, staging gone
    staging2 = str(tmp_path / "b.tmp.1.y")
    os.makedirs(staging2)
    dest_dir = str(tmp_path / "b")
    os.makedirs(dest_dir)
    _publish_staging(staging2, dest_dir)
    assert not os.path.exists(staging2) and os.path.isdir(dest_dir)


@pytest.mark.fast
def test_staging_heartbeat_keeps_live_builds_fresh(tmp_path):
    """ADVICE r10: a long-running build's staging dir must not cross
    prune_artifacts' 1-hour staleness threshold while the builder is
    alive — the heartbeat refreshes its mtime periodically."""
    import time

    from storm_netmonitor_spark.io import _staging_heartbeat

    staging = str(tmp_path / "art.tmp.1.z")
    os.makedirs(staging)
    old = time.time() - 7200
    os.utime(staging, (old, old))
    with _staging_heartbeat(staging, interval=0.05):
        deadline = time.time() + 5.0
        while os.path.getmtime(staging) < old + 3600 and time.time() < deadline:
            time.sleep(0.05)
    assert os.path.getmtime(staging) > old + 3600


@pytest.mark.fast
def test_artifact_rebuilds_on_content_mutation_with_restored_mtime(
    tmp_path, monkeypatch
):
    """VERDICT r11 #6 — the content-level invalidation path: regenerate
    an input parquet IN PLACE with the same byte length and then RESTORE
    its mtime (the stat-spoofing case age/mtime keys cannot see). The
    fingerprint's parquet-footer hash must still invalidate, because the
    footer's statistics change with the data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from storm_netmonitor_spark.io import disk_artifact_json, sf_fingerprint

    monkeypatch.setenv("NM_ARTIFACT_DIR", str(tmp_path / "store2"))
    d = str(tmp_path / "in2")
    os.makedirs(d)
    f = os.path.join(d, "documents.parquet")

    def regen(vals):
        pq.write_table(pa.table({"doc_id": vals}), f)

    regen([1, 2, 3])
    st0 = os.stat(f)
    fp0 = sf_fingerprint(d)
    calls = []
    build = lambda: calls.append(1) or len(calls)
    assert disk_artifact_json("cm", "v1", d, build) == 1
    assert disk_artifact_json("cm", "v1", d, build) == 1  # warm read

    # regenerate with different DATA, same byte length, then restore
    # atime+mtime exactly — only the footer hash can tell them apart
    regen([1, 2, 7])
    assert os.stat(f).st_size == st0.st_size, "fixture must keep size"
    os.utime(f, ns=(st0.st_atime_ns, st0.st_mtime_ns))
    st1 = os.stat(f)
    assert (st1.st_size, st1.st_mtime_ns) == (st0.st_size, st0.st_mtime_ns)
    assert sf_fingerprint(d) != fp0, "footer hash must see the mutation"
    assert disk_artifact_json("cm", "v1", d, build) == 2  # REBUILT
