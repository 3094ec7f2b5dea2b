"""Iceberg-lite pages table: snapshot isolation, manifest pruning
(SURVEY.md §2.4 B1); stage manifests resume (B10); lineage (B9)."""

import os

import pytest
from pyspark.sql import functions as F

from timezone_boundary_builder_spark.plans.lineage import lineage_table
from timezone_boundary_builder_spark.plans.manifests import StageManifest, fingerprint
from timezone_boundary_builder_spark.sources import pages as pg
from timezone_boundary_builder_spark.sources.fixtures import synthetic_pages


@pytest.fixture()
def pages_pdf():
    return synthetic_pages(n=300, seed=11).drop(columns=["kind"])


def test_snapshot_append_and_pruning(spark, tmp_path, pages_pdf):
    root = str(tmp_path / "pages_tbl")
    df = spark.createDataFrame(pages_pdf)
    s1 = pg.commit_append(root, df)
    n1 = pg.scan(spark, root).count()
    assert n1 == 300
    assert pg.snapshot_row_count(root) == 300

    # append a second batch -> new snapshot; old snapshot still reads 300
    df2 = spark.createDataFrame(pages_pdf).withColumn(
        "url", F.concat(F.lit("b2-"), F.col("url"))
    )
    s2 = pg.commit_append(root, df2)
    assert pg.scan(spark, root, snapshot_id=s1).count() == 300  # isolation
    assert pg.scan(spark, root, snapshot_id=s2).count() == 600

    # manifest pruning: restricting ts_day must cut the file list
    snap = pg.read_snapshot(root)
    days = sorted({e["ts_day"] for e in snap["manifest"]})
    assert len(days) > 1
    pruned = pg.scan(spark, root, ts_day_min=days[-1], ts_day_max=days[-1])
    full = pg.scan(spark, root)
    assert pruned.count() < full.count()
    # pruning happened at the manifest level: fewer input files in the plan
    assert len(pruned.inputFiles()) < len(full.inputFiles())


def test_stage_manifest_resume(spark, tmp_path):
    root = str(tmp_path / "stages")
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("x"))

    m = StageManifest(root)
    fp = fingerprint("stage-a", "cfg-v1")
    df1, cached1 = m.run_stage(spark, "stage_a", fp, compute)
    assert not cached1 and calls["n"] == 1 and df1.count() == 100

    # same fingerprint -> skipped, byte-identical output reused
    m2 = StageManifest(root)  # fresh process analog
    df2, cached2 = m2.run_stage(spark, "stage_a", fp, compute)
    assert cached2 and calls["n"] == 1
    assert df2.orderBy("id").collect() == df1.orderBy("id").collect()

    # changed fingerprint -> recompute
    df3, cached3 = m2.run_stage(spark, "stage_a", fingerprint("stage-a", "cfg-v2"), compute)
    assert not cached3 and calls["n"] == 2

    # corrupted output -> hash re-verification forces recompute
    out_dir = os.path.join(root, "stage_a")
    victim = [f for f in os.listdir(out_dir) if f.endswith(".parquet")][0]
    with open(os.path.join(out_dir, victim), "ab") as f:
        f.write(b"corruption")
    m3 = StageManifest(root)
    _, cached4 = m3.run_stage(spark, "stage_a", fingerprint("stage-a", "cfg-v2"), compute)
    assert not cached4 and calls["n"] == 3


def test_lineage_and_metrics(spark, pages_pdf):
    df = spark.createDataFrame(pages_pdf).repartition(4, "url")
    lin = lineage_table(df, "url").toPandas()
    assert lin.n_rows.sum() == 300
    assert lin.partition_id.nunique() == len(lin)
    # content-identical input repartitioned differently -> same multiset
    lin2 = lineage_table(df.repartition(2, "url"), "url").toPandas()
    assert lin2.n_rows.sum() == 300

    # DataFrame.observe counts rows into and out of a pass-through stage
    from pyspark.sql import Observation

    obs_in, obs_out = Observation("identity_in"), Observation("identity_out")

    def identity(batches):
        for b in batches:
            yield b

    rows = F.count(F.lit(1)).alias("rows")
    out = (
        df.select("url")
        .observe(obs_in, rows)
        .mapInPandas(identity, "url string")
        .observe(obs_out, rows)
    )
    # noop sink: every row flows through the stage (count() could prune it)
    out.write.format("noop").mode("overwrite").save()
    assert obs_in.get["rows"] == 300 and obs_out.get["rows"] == 300


def test_compaction_rewrites_without_changing_content(spark, tmp_path, pages_pdf):
    """Iceberg-style rewrite_data_files: three append batches collapse to
    one manifest entry per ts_day, the (url, text) content hash and row
    count are unchanged, and the pre-compaction snapshot still time-travels
    against its original files."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(pages_pdf)
    for chunk in (df.limit(100), df.offset(100).limit(100), df.offset(200)):
        pg.commit_append(root, chunk)
    pre = pg.read_snapshot(root)
    n_entries_pre = len(pre["manifest"])
    days = {e["ts_day"] for e in pre["manifest"]}
    assert n_entries_pre > len(days)  # multiple batches per day

    def content(sid=None):
        s = pg.scan(spark, root, snapshot_id=sid)
        row = s.agg(
            F.bit_xor(F.xxhash64("url", "text")).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return row["h"], row["n"]

    h_pre = content()
    sid_c = pg.compact_data_files(spark, root)
    post = pg.read_snapshot(root)
    assert post["id"] == sid_c and post["operation"] == "rewrite"
    assert len(post["manifest"]) == len(days)  # one entry per partition
    assert content() == h_pre
    # time travel: the pre-compaction snapshot still reads its own files
    assert content(pre["id"]) == h_pre


def test_expire_snapshots_drops_orphans_only(spark, tmp_path, pages_pdf):
    import os

    import pytest

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(pages_pdf)
    sids = [pg.commit_append(root, df.limit(150)), pg.commit_append(root, df.offset(150))]
    n_total = pg.snapshot_row_count(root)
    pg.compact_data_files(spark, root)
    # default TTL protects a fresh unreferenced dir (in-flight append
    # guard): batch shells survive the first expiry...
    res = pg.expire_snapshots(root, keep_last=1)
    assert set(res["expired"]) == set(sids)
    assert any(
        d.startswith("batch-") for d in os.listdir(os.path.join(root, "data"))
    )
    # ...and a zero-TTL pass (operator says nothing is in flight) reaps them
    pg.expire_snapshots(root, keep_last=1, orphan_ttl_sec=0.0)
    # current snapshot unaffected; its files intact
    assert pg.scan(spark, root).count() == n_total
    # expired snapshots are gone, and so are their now-orphaned batches
    with pytest.raises(FileNotFoundError):
        pg.read_snapshot(root, sids[0])
    data_dirs = os.listdir(os.path.join(root, "data"))
    assert all(d.startswith("compact-") for d in data_dirs), data_dirs


def test_expire_respells_root_without_data_loss(spark, tmp_path, pages_pdf):
    """Regression (ADVICE r2, medium): orphan reaping must compare REAL
    paths — a maintenance run invoked with an equivalent but differently
    spelled root (relative path, trailing slash, symlink) must never
    reap a LIVE batch dir the current snapshot references."""
    import os

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(pages_pdf)
    pg.commit_append(root, df)
    n_total = pg.snapshot_row_count(root)

    # a symlinked spelling of the same table root
    alias = str(tmp_path / "tbl_alias")
    os.symlink(root, alias)
    # a relative spelling via cwd
    cwd = os.getcwd()
    try:
        os.chdir(str(tmp_path))
        for respelled in (alias, os.path.join("tbl", ""), "./tbl"):
            pg.expire_snapshots(respelled, keep_last=1, orphan_ttl_sec=0.0)
            assert pg.scan(spark, root).count() == n_total, respelled
    finally:
        os.chdir(cwd)


def test_orphan_sweep_never_follows_symlinks(spark, tmp_path, pages_pdf):
    """A symlinked, unreferenced batch dir must lose only the LINK —
    rmtree through the symlink would delete storage outside the table
    root (a pattern versioned-artifact layouts legitimately use)."""
    import os

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(pages_pdf)
    pg.commit_append(root, df)
    n_total = pg.snapshot_row_count(root)
    # external storage a stray symlink points at
    external = tmp_path / "external_store"
    external.mkdir()
    (external / "keep.txt").write_text("precious")
    link = os.path.join(root, "data", "batch-deadbeef0000")
    os.symlink(str(external), link)
    pg.expire_snapshots(root, keep_last=1, orphan_ttl_sec=0.0)
    assert (external / "keep.txt").exists()  # target untouched
    assert not os.path.lexists(link)  # dangling link reaped
    assert pg.scan(spark, root).count() == n_total


def test_dated_scan_excludes_null_ts(spark, tmp_path):
    """Regression (ADVICE r2, low): any ts_day bound — min alone
    included — excludes the NULL-warc_ts sentinel partition, matching
    SQL/Iceberg semantics where NULL fails every range predicate."""
    import datetime

    import pandas as pd

    root = str(tmp_path / "tbl")
    pdf = pd.DataFrame(
        {
            "url": ["a", "b"],
            "warc_ts": [datetime.datetime(2026, 1, 5, 12, 0, 0), None],
            "html": [b"", b""],
            "text": ["x", "y"],
            "lang": ["en", "en"],
        }
    )
    pg.commit_append(root, spark.createDataFrame(pdf, pg.PAGES_SCHEMA))
    assert pg.scan(spark, root).count() == 2  # unfiltered still reads it
    assert pg.scan(spark, root, ts_day_min="2026-01-01").count() == 1
    assert pg.scan(spark, root, ts_day_max="2026-12-31").count() == 1
    assert pg.scan(spark, root, ts_day_min="2026-01-01", ts_day_max="2026-12-31").count() == 1


def test_added_paths_since_skips_rewrites(spark, tmp_path, pages_pdf):
    """Chain-walked incremental delta: a compaction rewrite contributes
    ZERO added paths (its rows are not new), later appends contribute
    exactly their own batches, and an expired cursor raises instead of
    silently re-emitting the whole table."""
    import pytest

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(pages_pdf)
    s1 = pg.commit_append(root, df.limit(100))
    s2 = pg.commit_append(root, df.offset(100).limit(100))
    # cursor at s2; compaction must yield no delta
    sc_ = pg.compact_data_files(spark, root)
    assert pg.added_paths_since(root, sc_, s2) == []
    # an append after the rewrite yields exactly its own entries
    s3 = pg.commit_append(root, df.offset(200))
    delta = pg.added_paths_since(root, s3, s2)
    assert delta and all("/batch-" in e["path"] for e in delta)
    assert sum(e["rows"] for e in delta) == 100
    # full-history walk from None = every append's rows once
    assert sum(e["rows"] for e in pg.added_paths_since(root, s3, None)) == 300
    # expiry invalidates the old cursor loudly
    pg.expire_snapshots(root, keep_last=1)
    with pytest.raises((ValueError, FileNotFoundError)):
        pg.added_paths_since(root, pg.current_snapshot_id(root), s1)


def test_baseline_after_compaction_covers_full_corpus(spark, tmp_path, pages_pdf):
    """Data-loss regression (round-4 review): a None-cursor baseline
    after compact + expire must return the COMPLETE corpus — the old
    chain-walked-appends baseline skipped rewrite snapshots and returned
    zero rows for a fully-compacted table, permanently losing the
    pre-compaction corpus for any consumer that re-baselines after
    maintenance."""
    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(pages_pdf)
    pg.commit_append(root, df.limit(150))
    pg.commit_append(root, df.offset(150))
    pg.compact_data_files(spark, root)
    pg.expire_snapshots(root, keep_last=1, orphan_ttl_sec=0)
    sid = pg.current_snapshot_id(root)
    baseline = pg.added_paths_since(root, sid, None)
    assert sum(e["rows"] for e in baseline) == len(pages_pdf)
    got = spark.read.schema(pg.PAGES_SCHEMA).parquet(*[e["path"] for e in baseline])
    assert got.count() == len(pages_pdf)


def test_publish_cas_rejects_stale_parent(spark, tmp_path, pages_pdf):
    """Concurrent-commit safety: a publish built against a parent that
    is no longer current must raise ConflictError (last-writer-wins
    would silently drop the other writer's committed rows), and
    commit_append's retry loop must absorb the race by re-merging."""
    import pytest

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(pages_pdf)
    s1 = pg.commit_append(root, df.limit(100))
    # simulate a stale compaction: manifest derived from parent=None
    # while current is s1
    with pytest.raises(pg.ConflictError):
        pg._publish_snapshot(root, [], None, op="rewrite")
    # a clean append on the current parent still succeeds and chains
    s2 = pg.commit_append(root, df.offset(100).limit(50))
    assert pg.read_snapshot(root, s2)["parent"] == s1
    assert pg.snapshot_row_count(root, s2) == 150


def test_publish_recovers_stale_lock_and_steal_is_single_winner(
    spark, tmp_path, pages_pdf
):
    """A lock left by a killed writer must not block publishes forever:
    after the 60s expiry a new writer steals it (by atomic rename — the
    remove+recreate variant let two stealers both enter the critical
    section) and commits normally. Also: a CONTESTED steal has exactly
    one winner — a second stealer's rename raises FileNotFoundError and
    loops back to the create, never deleting the winner's fresh lock."""
    import os
    import time as _time

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(pages_pdf)
    s1 = pg.commit_append(root, df.limit(100))
    lock = os.path.join(pg._meta_dir(root), "current.lock")
    # plant a stale lock (killed writer), mtime older than the expiry
    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)
    os.utime(lock, (_time.time() - 120, _time.time() - 120))
    s2 = pg.commit_append(root, df.offset(100).limit(50))
    assert pg.read_snapshot(root, s2)["parent"] == s1
    assert pg.snapshot_row_count(root, s2) == 150
    assert not os.path.exists(lock)  # released after the steal+publish
    # single-winner property of the rename steal: once one stealer has
    # renamed the stale lock away, a racing stealer's rename fails with
    # FileNotFoundError (it can never remove a FRESH lock by mistake)
    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)
    stale_name = lock + ".stale-test"
    os.rename(lock, stale_name)  # stealer A wins
    try:
        os.rename(lock, lock + ".stale-other")  # stealer B must lose
        raise AssertionError("second rename of a stolen lock must fail")
    except FileNotFoundError:
        pass
    os.remove(stale_name)


def test_empty_append_publishes_noop_snapshot(spark, tmp_path, pages_pdf):
    """A crawler tick with zero new pages must publish a no-op snapshot
    (empty delta, content unchanged), not crash on parquet schema
    inference over an empty staging directory."""
    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(pages_pdf)
    s1 = pg.commit_append(root, df.limit(100))
    s2 = pg.commit_append(root, df.limit(0))
    assert pg.snapshot_row_count(root, s2) == 100
    assert pg.added_paths_since(root, s2, s1) == []
    assert pg.scan(spark, root).count() == 100


def test_null_warc_ts_lands_in_sentinel_partition(spark, tmp_path):
    import datetime

    import pandas as pd

    root = str(tmp_path / "tbl")
    pdf = pd.DataFrame(
        {
            "url": ["a", "b", "c"],
            "warc_ts": [
                datetime.datetime(2026, 1, 5, 12, 0, 0),
                None,
                datetime.datetime(2026, 1, 6, 1, 0, 0),
            ],
            "html": [b"", b"", b""],
            "text": ["x", "y", "z"],
            "lang": ["en", "en", "en"],
        }
    )
    pg.commit_append(root, spark.createDataFrame(pdf, pg.PAGES_SCHEMA))
    snap = pg.read_snapshot(root)
    days = {e["ts_day"] for e in snap["manifest"]}
    assert days == {"2026-01-05", "2026-01-06", pg.NULL_TS_DAY}
    # every manifest path actually exists (no 'ts_day=None' phantom)
    import os

    assert all(os.path.exists(e["path"]) for e in snap["manifest"])
    # unfiltered scan sees all rows; a dated range excludes the null row
    assert pg.scan(spark, root).count() == 3
    assert (
        pg.scan(spark, root, ts_day_min="2026-01-01", ts_day_max="2026-12-31").count()
        == 2
    )
    # compaction round-trips the sentinel partition too
    pg.compact_data_files(spark, root)
    assert pg.scan(spark, root).count() == 3


def test_maintain_pages_job(spark, tmp_path, pages_pdf):
    """The spark-submit maintenance surface: compact + expire in one
    invocation, JSON status line, table readable and row-conserving."""
    import json

    from tests._jobrunner import run_job

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(pages_pdf)
    pg.commit_append(root, df.limit(150))
    pg.commit_append(root, df.offset(150))
    proc = run_job(
        "maintain_pages.py",
        ["--pages-root", root, "--compact", "--expire",
         "--keep-last", "1", "--orphan-ttl-sec", "0", "--cores", "8"],
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["rows"] == len(pages_pdf)
    assert out["manifest_entries"]["after"] < out["manifest_entries"]["before"]
    assert len(out["expire"]["expired"]) == 2
    assert pg.scan(spark, root).count() == len(pages_pdf)
