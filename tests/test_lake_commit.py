"""Lake-table commit protocol under interleaved writers.

Each test drives one interleaving by wrapping the writer's own
``_write_manifest`` (runs just before the version link) or ``manifest``
(the re-read a rebase starts from) and committing from a second
``LakehouseTable`` on the same path inside the wrapper."""

from __future__ import annotations

import os
import sys
import threading

import pytest

from etl_rs_spark.sinks.lakehouse import ConcurrentCommitError, LakehouseTable

DDL = "doc_id string, op string, lsn long, offset long, x int"


def _rows(spark, *rows, ddl=DDL):
    return spark.createDataFrame([(d, "insert", lsn, lsn, *rest) for d, lsn, *rest in rows], ddl)


def _state(table, col="x"):
    return {r["doc_id"]: r[col] for r in table.read().collect()}


def _before_first_link(monkeypatch, table, peer_commit):
    """Run ``peer_commit`` once, right before ``table``'s next version
    link, so the peer claims the version ``table`` targets."""
    link = table._write_manifest
    raced = []

    def racing_link(man, version):
        if not raced:
            raced.append(version)
            peer_commit()
        return link(man, version)

    monkeypatch.setattr(table, "_write_manifest", racing_link)
    return raced


def test_peer_commit_during_rebase_is_not_lost(spark, tmp_path, monkeypatch):
    """Writer A loses the version race to peer batch B0, re-reads the
    manifest to rebase, and peer batch B1 commits right after that read.
    A's commit must carry B1: both batch keys and all rows survive."""
    path = str(tmp_path / "t")
    a, peer = LakehouseTable(spark, path, n_buckets=2), LakehouseTable(spark, path, n_buckets=2)
    a.merge(_rows(spark, ("s", 1, 1)), "seed")
    raced = _before_first_link(monkeypatch, a, lambda: peer.merge(_rows(spark, ("b0", 2, 2)), "B0"))
    read = a.manifest
    reread = []

    def racing_read():
        man = read()
        if raced and not reread:
            reread.append(man["version"])
            peer.merge(_rows(spark, ("b1", 4, 4)), "B1")
        return man

    monkeypatch.setattr(a, "manifest", racing_read)
    a.merge(_rows(spark, ("a", 3, 3)), "A")
    monkeypatch.undo()
    assert raced and reread
    man = a.manifest()
    assert sorted(man["committed"]) == ["A", "B0", "B1", "seed"]
    assert _state(a) == {"s": 1, "b0": 2, "a": 3, "b1": 4}


def test_rebased_merge_keeps_its_new_column(spark, tmp_path, monkeypatch):
    """A merge that adds a payload column and loses one version race
    still records the column, so its values stay readable."""
    path = str(tmp_path / "t")
    a, peer = LakehouseTable(spark, path, n_buckets=2), LakehouseTable(spark, path, n_buckets=2)
    a.merge(_rows(spark, ("s", 1, 1)), "seed")
    raced = _before_first_link(monkeypatch, a, lambda: peer.merge(_rows(spark, ("b0", 2, 2)), "B0"))
    tagged = _rows(spark, ("a", 3, 3, "t"), ddl=DDL + ", tag string")
    assert a.merge(tagged, "A")["skipped"] is False
    assert raced
    assert ["tag", "string"] in a.manifest()["payload_schema"]
    assert _state(a, "tag") == {"s": None, "b0": None, "a": "t"}


def test_stale_current_pointer_hides_no_commit(spark, tmp_path):
    """CURRENT is only a hint: rolled back to an older version, it still
    resolves to the newest linked snapshot, and the next commit targets
    newest + 1."""
    path = str(tmp_path / "t")
    t = LakehouseTable(spark, path, n_buckets=2)
    for i in range(3):
        t.merge(_rows(spark, (f"d{i}", i + 1, i)), f"b{i}")
    with open(os.path.join(path, "_snapshots", "CURRENT"), "w") as f:
        f.write("1")
    assert t.manifest()["version"] == 3
    assert _state(t) == {"d0": 0, "d1": 1, "d2": 2}
    assert t.merge(_rows(spark, ("d3", 4, 3)), "b3")["version"] == 4
    assert _state(t) == {"d0": 0, "d1": 1, "d2": 2, "d3": 3}


def test_compaction_rebases_over_concurrent_delta(spark, tmp_path, monkeypatch):
    """A peer's delta lands between compact()'s snapshot read and its
    commit. Compaction removes only the files it read, so it rebases:
    the peer's delta stays live as the table's one delta, and its rows
    (a new key and a newer version of a compacted key) stay visible."""
    path = str(tmp_path / "t")
    t, peer = LakehouseTable(spark, path, n_buckets=2), LakehouseTable(spark, path, n_buckets=2)
    t.merge(_rows(spark, ("d0", 1, 0), ("d1", 2, 1)), "b0")
    t.merge(_rows(spark, ("d0", 3, 10)), "b1")
    raced = _before_first_link(
        monkeypatch, t, lambda: peer.merge(_rows(spark, ("p", 4, 4), ("d1", 5, 11)), "P")
    )
    info = t.compact()
    assert raced and info["version"] == raced[0] + 1
    man = t.manifest()
    assert "P" in man["committed"] and man["history"][-1]["batch"] == "_compact"
    assert man["deltas"] == [t.manifest_at(raced[0])["deltas"][-1]]
    assert _state(t) == {"d0": 10, "d1": 11, "p": 4}


def test_concurrent_rewrites_conflict(spark, tmp_path, monkeypatch):
    """Two rewrites of the same files conflict: the loser's files to
    remove are no longer live, so it raises instead of rebasing, and
    the table keeps the winner's state."""
    path = str(tmp_path / "t")
    t, peer = LakehouseTable(spark, path, n_buckets=2), LakehouseTable(spark, path, n_buckets=2)
    t.merge(_rows(spark, ("d0", 1, 0)), "b0")
    t.merge(_rows(spark, ("d0", 2, 1)), "b1")
    _before_first_link(monkeypatch, t, peer.compact)
    with pytest.raises(ConcurrentCommitError):
        t.compact()
    assert t.manifest()["history"][-1]["batch"] == "_compact"
    assert _state(t) == {"d0": 1}


def test_threaded_writers_lose_no_acknowledged_commit(spark, tmp_path):
    """Six writer threads (more than the cores) commit through _commit
    on one table at once. Every commit that returned is in the final
    manifest, and each took exactly one version; a writer that lost 10
    races in a row raised and left nothing behind."""
    path = str(tmp_path / "t")
    LakehouseTable(spark, path, n_buckets=2)  # v0 exists before the race
    acked = []

    def writer(w):
        t = LakehouseTable(spark, path, n_buckets=2)
        for i in range(15):
            key = f"w{w}:{i}"
            try:
                if t._commit(t.manifest(), lambda m, key=key: m["committed"].append(key), key):
                    acked.append(key)
            except ConcurrentCommitError:
                pass

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer, args=(w,)) for w in range(6)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(th.is_alive() for th in threads)
    man = LakehouseTable(spark, path).manifest()
    assert sorted(man["committed"]) == sorted(acked)
    assert man["version"] == len(acked) > 0
