"""Checkpoint/resume (SURVEY.md §5.6 / §7.5): kill after epoch k, resume,
final state identical to the uninterrupted run — incl. a torn (un-renamed)
snapshot being invisible."""

from __future__ import annotations

import json
import os

import pytest

from maga_spark.crawlspec import CrawlConfig
from maga_spark.plans import snapstore
from maga_spark.plans.frontier import CrawlEngine
from maga_spark.sim import run as sim_run
from maga_spark.sources.fixtures import generate

CFG = CrawlConfig(epochs=6, global_k=32)


@pytest.fixture(scope="module")
def fixtures_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("snap_fixtures"))
    generate(d, n_urls=600, n_seeds=12)
    return d


@pytest.mark.parametrize("seen_mode", ["exact", "cuckoo"])
def test_resume_equals_uninterrupted(spark, fixtures_dir, tmp_path, seen_mode):
    """Cuckoo mode also covers resume's filter rebuild from the restored
    seen table."""
    golden = sim_run(fixtures_dir, CFG)
    snap = str(tmp_path / "snaps")

    # run only 3 of 6 epochs, committing snapshots
    eng_a = CrawlEngine(spark, fixtures_dir, CFG, seen_mode=seen_mode, snapshot_dir=snap)
    res_a = eng_a.run(epochs=3, collect_ordering=True)
    assert snapstore.list_epochs(snap) == [0, 1, 2]

    # simulate a crash mid-commit: a torn _tmp dir must be invisible
    os.makedirs(os.path.join(snap, "_tmp.epoch=3", "frontier"), exist_ok=True)
    assert snapstore.list_epochs(snap) == [0, 1, 2]

    # resume in a *new* engine and finish the remaining 3 epochs
    eng_b = snapstore.resume(spark, snap, fixtures_dir, CFG, seen_mode=seen_mode)
    res_b = eng_b.run(epochs=3, collect_ordering=True)

    full_ordering = res_a.ordering + res_b.ordering
    assert full_ordering == golden.ordering
    assert [m["epoch"] for m in res_b.metrics] == [3, 4, 5]
    assert (res_a.metrics + res_b.metrics) == golden.metrics
    got_seen = {r["shard"]: list(r["hashes"]) for r in eng_b.seen_per_shard()}
    assert got_seen == golden.seen

    # ordering is also fully reconstructable from the snapshots alone
    assert snapstore.load_ordering(spark, snap) == golden.ordering


def test_manifest_lineage(spark, fixtures_dir, tmp_path):
    snap = str(tmp_path / "snaps2")
    eng = CrawlEngine(spark, fixtures_dir, CrawlConfig(epochs=2, global_k=16), snapshot_dir=snap)
    eng.run(epochs=2)
    man = snapstore.read_manifest(snap, 1)
    assert man["epoch"] == 1
    assert man["metrics"]["scheduled"] > 0
    for t in ("frontier", "seen", "host_state", "pending", "ordering"):
        assert t in man["tables"], t
        assert man["tables"][t]["rows"] >= 0
        lin = man["tables"][t]["lineage"]
        assert sum(s["rows"] for s in lin) == man["tables"][t]["rows"]
        assert all("vhash" in s for s in lin)
    # manifest is valid json on disk with the commit-point rename done
    assert not any(d.startswith("_tmp") for d in os.listdir(snap))
    with open(os.path.join(snap, "epoch=1", "manifest.json")) as f:
        json.load(f)


def test_verify_and_expire_snapshots(spark, fixtures_dir, tmp_path):
    """Iceberg-maintenance analogs: verify_snapshot recomputes lineage from
    the parquet bytes and catches tampering; expire_snapshots keeps the
    resume window and sweeps torn tmp dirs, and resume still works from
    the newest surviving epoch."""
    import shutil

    cfg = CrawlConfig(epochs=4, global_k=16)
    snap = str(tmp_path / "snaps3")
    eng = CrawlEngine(spark, fixtures_dir, cfg, snapshot_dir=snap)
    eng.run(epochs=4)
    assert snapstore.list_epochs(snap) == [0, 1, 2, 3]

    # clean audit passes on every table
    rep = snapstore.verify_snapshot(spark, snap, 3, cfg.nshards)
    assert rep["ok"] and all(t["ok"] for t in rep["tables"].values())

    # tamper: replace epoch 2's seen table with epoch 0's → audit must fail
    shutil.rmtree(os.path.join(snap, "epoch=2", "seen"))
    shutil.copytree(os.path.join(snap, "epoch=0", "seen"), os.path.join(snap, "epoch=2", "seen"))
    bad = snapstore.verify_snapshot(spark, snap, 2, cfg.nshards)
    assert not bad["ok"] and not bad["tables"]["seen"]["ok"]
    assert bad["tables"]["frontier"]["ok"]  # untouched tables still pass

    # retention: keep the last 2 epochs. A FRESH _tmp dir (an in-flight
    # commit's workdir) survives the default grace window — a concurrent
    # retention cron must never rmtree a commit mid-rename — while an aged
    # turd (grace 0 = offline cleanup) is swept.
    os.makedirs(os.path.join(snap, "_tmp.epoch=9"), exist_ok=True)
    assert snapstore.expire_snapshots(snap, keep_last=2) == [0, 1]
    assert snapstore.list_epochs(snap) == [2, 3]
    assert os.path.isdir(os.path.join(snap, "_tmp.epoch=9"))  # fresh → kept
    assert snapstore.expire_snapshots(snap, keep_last=2, tmp_grace_sec=0) == []
    assert not any(d.startswith("_tmp") for d in os.listdir(snap))
    with pytest.raises(ValueError):
        snapstore.expire_snapshots(snap, keep_last=0)

    # resume from the newest surviving snapshot still works
    eng_b = snapstore.resume(spark, snap, fixtures_dir, cfg)
    assert eng_b._start_epoch == 4


def test_time_travel_and_compaction(spark, fixtures_dir, tmp_path):
    """read_table = VERSION-AS-OF analog (historical epochs stay readable);
    compact_snapshot = rewrite_data_files analog: fewer files, identical
    rows, lineage audit still green, resume unaffected."""
    cfg = CrawlConfig(epochs=3, global_k=16)
    snap = str(tmp_path / "snaps_tt")
    eng = CrawlEngine(spark, fixtures_dir, cfg, snapshot_dir=snap)
    eng.run(epochs=3)

    # time travel: seen-set strictly grows epoch over epoch; default = latest
    n0 = snapstore.read_table(spark, snap, "seen", epoch=0).count()
    n2 = snapstore.read_table(spark, snap, "seen", epoch=2).count()
    assert n0 < n2
    assert snapstore.read_table(spark, snap, "seen").count() == n2
    with pytest.raises(FileNotFoundError):
        snapstore.read_table(spark, snap, "seen", epoch=9)
    with pytest.raises(KeyError):
        snapstore.read_table(spark, snap, "nope", epoch=2)

    # compaction: rows + per-shard lineage invariant, file count shrinks
    before = {
        t: {tuple(r) for r in snapstore.read_table(spark, snap, t, epoch=1).collect()}
        for t in ("seen", "frontier")
    }
    rep = snapstore.compact_snapshot(spark, snap, epoch=1, target_files=1)
    assert all(m["files_after"] <= m["files_before"] for m in rep["tables"].values())
    assert all(m["files_after"] == 1 for m in rep["tables"].values())
    for t, rows in before.items():
        assert {tuple(r) for r in snapstore.read_table(spark, snap, t, epoch=1).collect()} == rows
    audit = snapstore.verify_snapshot(spark, snap, 1, cfg.nshards)
    assert audit["ok"] and all(m["ok"] for m in audit["tables"].values())
    assert snapstore.read_manifest(snap, 1)["compactions"][0]["target_files"] == 1
    assert not any(d.startswith("_tmp") for d in os.listdir(snap))

    # resume still lands after the last epoch
    assert snapstore.resume(spark, snap, fixtures_dir, cfg)._start_epoch == 3


def test_snapshot_diff_statuses_and_null_sentinels(spark):
    from maga_spark.plans.snapstore import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (5, None, 50)],
        "k long, s string, v long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 99), (4, "d", 40), (5, "\x00", 50)],
        "k long, s string, v long",
    )
    out = {r.k: r.status for r in snapshot_diff(old, new, ["k"], ["s", "v"]).collect()}
    # 1 unchanged (filtered), 2 changed, 3 removed, 4 added,
    # 5 changed: NULL must NOT alias with the literal sentinel byte
    assert out == {2: "changed", 3: "removed", 4: "added", 5: "changed"}
    full = snapshot_diff(old, new, ["k"], ["s", "v"], include_unchanged=True)
    assert {r.k: r.status for r in full.collect()}[1] == "unchanged"


def test_snapshot_diff_rejects_empty_specs(spark):
    import pytest as _pytest

    from maga_spark.plans.snapstore import snapshot_diff

    df = spark.createDataFrame([(1, 2)], "k long, v long")
    with _pytest.raises(ValueError):
        snapshot_diff(df, df, [], ["v"])
    with _pytest.raises(ValueError):
        snapshot_diff(df, df, ["k"], [])
