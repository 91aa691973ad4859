"""Merge-on-read frontier delta commits (the true 10^10 write shape).

Rewriting touched buckets costs O(frontier) when every bucket dequeues
every epoch (the steady state of a real crawl). Delta commits write
only the epoch's CHANGED rows (requeued + backoff + inserted); reads
resolve newest-key-wins with a broadcast anti-join; compaction folds
deltas back into bucket files. The reference twin is a catalog with
``compact_every=1``: its pre-write bound trips every epoch, so every
state table is folded into resolved bucket files each epoch (base-only
state), against the pure merge-on-read ``compact_every=100`` side.
These tests pin:

- exact equivalence of the two over multiple epochs,
- write amplification: a delta epoch adds ONE delta file set and leaves
  every base bucket file untouched,
- compaction preserves state and clears deltas inside the transaction,
- catalog-level upsert semantics (newest delta wins, inserts land,
  untouched base rows survive), staged invisibility + rollback,
- refusing a partition overwrite that would silently drop deltas.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from hiispider_spark.plans.epoch import EpochConfig, bootstrap, run_epoch
from hiispider_spark.schemas import FRONTIER
from hiispider_spark.sources.catalog import IcebergLike

# folds every state table into bucket files every epoch
CFG = EpochConfig(
    k_per_partition=8, n_partitions=8, bloom_m_bits=1 << 17,
    epoch_seconds=60.0, compact_every=1,
)
# never compacts within these tests: pure merge-on-read
DELTA_CFG = replace(CFG, compact_every=100)


def _mk_cat(spark, seeds, cfg, prefix):
    root = tempfile.mkdtemp(prefix=prefix)
    cat = IcebergLike(spark, root)
    bootstrap(spark, cat, seeds, cfg)
    return cat


def _frontier_rows(cat):
    return sorted(
        (r.url_hash, r.url, r.part_id, str(r.next_fetch_ts), r.retry_count,
         r.state, r.priority, r.plugin)
        for r in cat.read("frontier").collect()
    )


def _manifest_entry(cat, name="frontier"):
    with open(os.path.join(cat.root, "manifest.json")) as f:
        return json.load(f)["tables"][name]


@pytest.fixture()
def two_cats(spark, tiny_seeds):
    a = _mk_cat(spark, tiny_seeds, CFG, "fd_fold_")
    b = _mk_cat(spark, tiny_seeds, DELTA_CFG, "fd_mor_")
    yield a, b
    shutil.rmtree(a.root, ignore_errors=True)
    shutil.rmtree(b.root, ignore_errors=True)


def test_delta_epochs_match_overwrite_epochs(
    spark, two_cats, tiny_pages, tiny_robots
):
    # deltas are the only commit mode: the removed partition-overwrite
    # mode is refused up front, not silently run as deltas
    with pytest.raises(ValueError, match="state_deltas"):
        EpochConfig(state_deltas=False)
    with pytest.raises(ValueError, match="state_deltas"):
        replace(CFG, state_deltas=False)
    ow, mor = two_cats
    for _ in range(3):
        st_ow = run_epoch(spark, ow, tiny_pages, tiny_robots, CFG)
        st_mor = run_epoch(spark, mor, tiny_pages, tiny_robots, DELTA_CFG)
        for k in ("n_dequeued", "n_fetched", "n_extracted", "frontier_size"):
            assert st_ow[k] == st_mor[k], k
        assert "frontier" in st_ow["compacted"]
        assert not st_mor["compacted"]
        assert not _manifest_entry(ow).get("deltas")
    assert _frontier_rows(ow) == _frontier_rows(mor)
    # downstream facts identical too
    ex_a = ow.read("extracted").select("url_hash", "epoch", "content_sha1")
    ex_b = mor.read("extracted").select("url_hash", "epoch", "content_sha1")
    assert ex_a.exceptAll(ex_b).count() == 0
    assert ex_b.exceptAll(ex_a).count() == 0


def test_delta_epoch_writes_only_delta(spark, two_cats, tiny_pages, tiny_robots):
    _, mor = two_cats
    before = _manifest_entry(mor)
    st = run_epoch(spark, mor, tiny_pages, tiny_robots, DELTA_CFG)
    assert st["n_dequeued"] > 0
    after = _manifest_entry(mor)
    assert after["parts"] == before["parts"]  # no bucket file rewritten
    assert len(after.get("deltas", [])) == len(before.get("deltas", [])) + 1
    # the delta holds only changed rows — strictly fewer than the table
    dl = spark.read.schema(FRONTIER).parquet(
        os.path.join(mor.root, after["deltas"][-1])
    )
    assert 0 < dl.count() < mor.read("frontier").count()


def test_all_state_tables_delta_commit(spark, two_cats, tiny_pages, tiny_robots):
    """page_cache and politeness get the same merge-on-read treatment
    as the frontier: a delta epoch appends one delta per table, leaves
    every base bucket untouched, and reads resolve identically to the
    every-epoch-folded twin."""
    ow, mor = two_cats
    for _ in range(2):
        run_epoch(spark, ow, tiny_pages, tiny_robots, CFG)
        for t in ("frontier", "page_cache", "politeness"):
            assert not _manifest_entry(ow, t).get("deltas"), t
        before = {t: _manifest_entry(mor, t) if t in
                  json.load(open(os.path.join(mor.root, "manifest.json")))["tables"]
                  else None
                  for t in ("page_cache", "politeness")}
        run_epoch(spark, mor, tiny_pages, tiny_robots, DELTA_CFG)
        for t in ("page_cache", "politeness"):
            after = _manifest_entry(mor, t)
            if before[t] is not None:
                assert after["parts"] == before[t]["parts"], t
                assert len(after.get("deltas", [])) == len(
                    before[t].get("deltas", [])
                ) + 1, t
    for t in ("page_cache", "politeness"):
        key = "url_hash" if t == "page_cache" else "host"
        a = {tuple(r) for r in ow.read(t).collect()}
        b = {tuple(r) for r in mor.read(t).collect()}
        assert a == b, t
        # newest-wins resolution: one row per key
        n_keys = mor.read(t).select(key).distinct().count()
        assert mor.read(t).count() == n_keys, t


def test_seen_exact_by_reference(spark, two_cats, tiny_pages, tiny_robots):
    """seen_exact is manifest references into frontier files (zero
    extra bytes written) — its membership must equal the frontier's
    url_hash set, and agree between the every-epoch-folded twin and a
    catalog compacting every 2 epochs."""
    ow, mor = two_cats
    compact_cfg = replace(DELTA_CFG, compact_every=2)
    for _ in range(3):
        run_epoch(spark, ow, tiny_pages, tiny_robots, CFG)
        run_epoch(spark, mor, tiny_pages, tiny_robots, compact_cfg)
    a = {r.url_hash for r in ow.read("seen_exact").collect()}
    b = {r.url_hash for r in mor.read("seen_exact").collect()}
    assert a == b
    for cat in (ow, mor):
        fr = {r.url_hash for r in cat.read("frontier").collect()}
        seen = {r.url_hash for r in cat.read("seen_exact").collect()}
        assert seen == fr
        # every referenced path belongs to the frontier's directory tree
        entry = _manifest_entry(cat, "seen_exact")
        assert entry["paths"]
        assert all(p.startswith("frontier/") for p in entry["paths"])


def test_row_count_from_manifest(spark, two_cats, tiny_pages, tiny_robots):
    """catalog.row_count is exact with zero jobs whether the frontier
    is base-only (folded every epoch) or base + pending deltas."""
    ow, mor = two_cats
    for _ in range(2):
        st_ow = run_epoch(spark, ow, tiny_pages, tiny_robots, CFG)
        st_mor = run_epoch(spark, mor, tiny_pages, tiny_robots, DELTA_CFG)
        assert st_ow["frontier_size"] == ow.read("frontier").count()
        assert st_mor["frontier_size"] == mor.read("frontier").count()
        assert st_ow["frontier_size"] == st_mor["frontier_size"]


def test_compaction_preserves_state_and_clears_deltas(
    spark, tiny_seeds, tiny_pages, tiny_robots
):
    compact_cfg = replace(DELTA_CFG, compact_every=2)
    a = _mk_cat(spark, tiny_seeds, DELTA_CFG, "fd_nc_")
    b = _mk_cat(spark, tiny_seeds, compact_cfg, "fd_c_")
    try:
        for _ in range(3):
            run_epoch(spark, a, tiny_pages, tiny_robots, DELTA_CFG)
            run_epoch(spark, b, tiny_pages, tiny_robots, compact_cfg)
        assert len(_manifest_entry(a).get("deltas", [])) == 3
        assert len(_manifest_entry(b).get("deltas", [])) <= 1
        assert _frontier_rows(a) == _frontier_rows(b)
    finally:
        shutil.rmtree(a.root, ignore_errors=True)
        shutil.rmtree(b.root, ignore_errors=True)


def test_upsert_fold_equals_delta_plus_compact(spark, tiny_seeds):
    """stage_upsert_fold (fold-on-write) must stage the exact end-state
    of stage_append_delta + compact — same resolved rows, no pending
    deltas, same rewritten buckets — while writing the changed rows
    once instead of twice."""
    from hiispider_spark.operators.frontier import build_frontier

    cats = {}
    try:
        fr = build_frontier(tiny_seeds, n_partitions=8)
        for tag in ("ab", "fold"):
            root = tempfile.mkdtemp(prefix=f"fd_uf_{tag}_")
            cat = IcebergLike(spark, root)
            cat.stage_overwrite_parts("frontier", fr, "part_id", list(range(8)))
            cat.commit(epoch=0)
            cats[tag] = cat
        # delta 1 (committed in both): a deterministic key slice
        # advances its schedule (limit() would pick arbitrary rows)
        def d1(cat):
            return (
                cat.read("frontier")
                .filter(F.pmod(F.col("url_hash"), F.lit(3)) == 0)
                .withColumn("retry_count", F.lit(1))
            )
        # delta 2: an overlapping deterministic slice flips state
        def d2(cat):
            return (
                cat.read("frontier")
                .filter(F.pmod(F.col("url_hash"), F.lit(2)) == 0)
                .withColumn("state", F.lit("done"))
            )
        for cat in cats.values():
            cat.stage_append_delta("frontier", d1(cat))
            cat.commit(epoch=1)
        a, b = cats["ab"], cats["fold"]
        a.stage_append_delta("frontier", d2(a))
        a.compact("frontier")
        a.commit(epoch=2)
        b.stage_upsert_fold("frontier", d2(b), "part_id", n_rows=200)
        b.commit(epoch=2)
        assert _frontier_rows(a) == _frontier_rows(b)
        ea, eb = _manifest_entry(a), _manifest_entry(b)
        assert not ea.get("deltas") and not eb.get("deltas")
        assert sorted(ea["parts"]) == sorted(eb["parts"])
        assert a.row_count("frontier") == b.row_count("frontier") == (
            b.read("frontier").count()
        )
        # newest-wins held through the fold: one row per key
        n_keys = b.read("frontier").select("url_hash").distinct().count()
        assert b.read("frontier").count() == n_keys
    finally:
        for cat in cats.values():
            shutil.rmtree(cat.root, ignore_errors=True)


def test_epoch_fold_on_write_matches_post_hoc_compaction(
    spark, tiny_seeds, tiny_pages, tiny_robots
):
    """A run_epoch whose pre-write accounting trips the compaction bound
    takes the fold-on-write path (no delta files ever written) and must
    land the same frontier AND seen_exact state as the delta+compact
    flow it replaces; the fold is reported via the compacted stat."""
    compact_cfg = replace(DELTA_CFG, compact_every=2)
    a = _mk_cat(spark, tiny_seeds, DELTA_CFG, "fd_fw_nc_")
    b = _mk_cat(spark, tiny_seeds, compact_cfg, "fd_fw_c_")
    try:
        sts = []
        for _ in range(3):
            run_epoch(spark, a, tiny_pages, tiny_robots, DELTA_CFG)
            sts.append(
                run_epoch(spark, b, tiny_pages, tiny_robots, compact_cfg)
            )
        # epochs 2+ trip the file-count bound pre-write → folds
        assert any("frontier" in st["compacted"] for st in sts[1:])
        assert len(_manifest_entry(b).get("deltas", [])) <= 1
        assert _frontier_rows(a) == _frontier_rows(b)
        sa = {r.url_hash for r in a.read("seen_exact").collect()}
        sb = {r.url_hash for r in b.read("seen_exact").collect()}
        assert sa == sb
        # folded epochs reference frontier bucket files, not delta dirs
        entry = _manifest_entry(b, "seen_exact")
        assert all(p.startswith("frontier/") for p in entry["paths"])
    finally:
        shutil.rmtree(a.root, ignore_errors=True)
        shutil.rmtree(b.root, ignore_errors=True)


def test_resolve_broadcast_size_gate(spark, tiny_seeds):
    """The merge-on-read resolve force-broadcasts the delta key set
    only while manifest counts prove it small; past the bound the join
    runs unhinted (a 10^10-scale delta must not OOM the driver)."""
    from hiispider_spark.operators.frontier import build_frontier

    root = tempfile.mkdtemp(prefix="fd_gate_")
    try:
        cat = IcebergLike(spark, root)
        fr = build_frontier(tiny_seeds, n_partitions=8)
        cat.stage_overwrite_parts("frontier", fr, "part_id", list(range(8)))
        cat.commit(epoch=0)
        cat.stage_append_delta(
            "frontier", cat.read("frontier").limit(50)
        )
        cat.commit(epoch=1)
        plan_small = cat.read("frontier")._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" in plan_small  # 50 keys → forced broadcast
        old = IcebergLike.BROADCAST_DELTA_MAX_ROWS
        try:
            IcebergLike.BROADCAST_DELTA_MAX_ROWS = 10  # below the 50-row delta
            plan_big = (
                cat.read("frontier")._jdf.queryExecution().executedPlan().toString()
            )
        finally:
            IcebergLike.BROADCAST_DELTA_MAX_ROWS = old
        # unhinted join: with AQE the tiny set may STILL broadcast at
        # runtime (fine — that's Spark's choice, not a forced hint), so
        # assert on the analyzed plan's hints instead
        hinted = cat.read("frontier")._jdf.queryExecution().analyzed().toString()
        IcebergLike.BROADCAST_DELTA_MAX_ROWS = 10
        try:
            unhinted = (
                cat.read("frontier")._jdf.queryExecution().analyzed().toString()
            )
        finally:
            IcebergLike.BROADCAST_DELTA_MAX_ROWS = old
        assert "UnresolvedHint BROADCAST" in hinted or "hints=[broadcast]" in hinted.lower() or "ResolvedHint" in hinted
        assert "Hint" not in unhinted
        assert plan_big  # plan still builds past the gate
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_catalog_delta_upsert_semantics(spark):
    root = tempfile.mkdtemp(prefix="fd_unit_")
    try:
        cat = IcebergLike(spark, root)

        def row(h, part, state="pending", retry=0):
            return (
                f"http://h{h}.test/", h, f"h{h}.test", 0, part, 1.0,
                "2024-01-01 00:00:00", 3600, retry, state, "text",
            )

        def df(rows):
            d = spark.createDataFrame(
                rows,
                "url string, url_hash long, host string, salt int, "
                "part_id int, priority double, next_fetch_ts string, "
                "interval_s int, retry_count int, state string, plugin string",
            )
            return d.withColumn(
                "next_fetch_ts", F.col("next_fetch_ts").cast("timestamp")
            )

        base = df([row(1, 0), row(2, 0), row(3, 1)])
        cat.stage_overwrite_parts("frontier", base, "part_id", [0, 1])
        cat.commit(epoch=0)
        # delta 1 updates key 1; delta 2 updates key 1 AGAIN + inserts 9
        cat.stage_append_delta("frontier", df([row(1, 0, retry=1)]))
        cat.stage_append_delta(
            "frontier", df([row(1, 0, retry=2), row(9, 1)])
        )
        cat.commit(epoch=1)
        got = {r.url_hash: r for r in cat.read("frontier").collect()}
        assert set(got) == {1, 2, 3, 9}  # insert landed, base survived
        assert got[1].retry_count == 2  # newest delta wins
        assert got[2].retry_count == 0  # untouched base row intact
        # read_parts prunes deltas by bucket too
        p1 = {r.url_hash for r in cat.read_parts("frontier", [1]).collect()}
        assert p1 == {3, 9}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_staged_delta_invisible_and_rollback(spark, tiny_seeds):
    from hiispider_spark.operators.frontier import build_frontier

    root = tempfile.mkdtemp(prefix="fd_rb_")
    try:
        cat = IcebergLike(spark, root)
        fr = build_frontier(tiny_seeds, n_partitions=8)
        cat.stage_overwrite_parts("frontier", fr, "part_id", list(range(8)))
        cat.commit(epoch=0)
        n0 = cat.read("frontier").count()
        bump = cat.read("frontier").limit(5).withColumn(
            "retry_count", F.lit(4)
        )
        cat.stage_append_delta("frontier", bump.select(*fr.columns))
        # staged: committed read unchanged, staged read sees the upsert
        assert cat.read("frontier").filter("retry_count = 4").count() == 0
        assert cat.read_staged("frontier").filter("retry_count = 4").count() == 5
        assert cat.read_staged("frontier").count() == n0
        delta_rel = cat._staged["frontier"]["deltas"][-1]
        cat.rollback_staged()
        assert not os.path.exists(os.path.join(root, delta_rel))
        assert cat.read("frontier").count() == n0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_overwrite_parts_refuses_pending_deltas(spark, tiny_seeds):
    from hiispider_spark.operators.frontier import build_frontier

    root = tempfile.mkdtemp(prefix="fd_refuse_")
    try:
        cat = IcebergLike(spark, root)
        fr = build_frontier(tiny_seeds, n_partitions=8)
        cat.stage_overwrite_parts("frontier", fr, "part_id", list(range(8)))
        cat.commit(epoch=0)
        cat.stage_append_delta("frontier", cat.read("frontier").limit(1))
        with pytest.raises(ValueError, match="pending delta"):
            cat.stage_overwrite_parts("frontier", fr, "part_id", [0])
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_empty_delta_roundtrip(spark, tiny_seeds):
    from hiispider_spark.operators.frontier import build_frontier

    root = tempfile.mkdtemp(prefix="fd_empty_")
    try:
        cat = IcebergLike(spark, root)
        fr = build_frontier(tiny_seeds, n_partitions=8)
        cat.stage_overwrite_parts("frontier", fr, "part_id", list(range(8)))
        cat.commit(epoch=0)
        n0 = cat.read("frontier").count()
        cat.stage_append_delta(
            "frontier", spark.createDataFrame([], FRONTIER)
        )
        cat.commit(epoch=1)
        # an all-deferred epoch's 0-row delta must not break resolution
        assert cat.read("frontier").count() == n0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_frontier_buckets_time_sorted_with_stats(
    spark, two_cats, tiny_pages, tiny_robots
):
    """Time layout (catalog.SORT_COLS): every frontier bucket file —
    bootstrap AND compaction output — is sorted by next_fetch_ts with
    real parquet min/max statistics (TIMESTAMP_MICROS, not stat-less
    INT96), so the dequeue's pushed predicate can prune row groups
    whose min exceeds the epoch ts. Golden orderings are unaffected
    (dequeue re-sorts in its window); this pins the STORAGE layout."""
    import pyarrow.parquet as pq

    _, mor = two_cats
    run_epoch(spark, mor, tiny_pages, tiny_robots, DELTA_CFG)
    mor.compact("frontier")
    mor.commit(epoch=mor.epoch)
    entry = _manifest_entry(mor)
    assert not entry.get("deltas")  # compaction folded
    checked = 0
    for rel in entry["parts"].values():
        absdir = os.path.join(mor.root, rel)
        for fn in os.listdir(absdir):
            if not fn.endswith(".parquet"):
                continue
            pf = pq.ParquetFile(os.path.join(absdir, fn))
            md = pf.metadata
            idx = [
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema
                == "next_fetch_ts"
            ][0]
            st = md.row_group(0).column(idx).statistics
            assert st is not None and st.min is not None  # prunable stats
            ts = pf.read(columns=["next_fetch_ts"]).to_pandas()[
                "next_fetch_ts"
            ]
            assert bool(ts.is_monotonic_increasing)
            checked += 1
    assert checked > 0


def test_delta_seq_anchored_to_part_file_parent(spark, tmp_path):
    """Newest-wins must survive a catalog ROOT whose path contains a
    /v<digits>/ segment — the _seq regex anchors to the part file's
    parent version dir, never the first match in the path."""
    import os

    from hiispider_spark.sources.catalog import IcebergLike

    root = os.path.join(str(tmp_path), "v7", "cat")
    cat = IcebergLike(spark, root)
    rows = lambda t, p: spark.createDataFrame(  # noqa: E731
        [("u", 1, "h", 0, 0, p, None, 60, 0, "pending", "text")],
        (
            "url string, url_hash long, host string, salt int, "
            "part_id int, priority double, next_fetch_ts timestamp, "
            "interval_s int, retry_count int, state string, "
            "plugin string"
        ),
    )
    cat.stage_overwrite_parts("frontier", rows("frontier", 1.0), "part_id", [0])
    cat.commit(epoch=0)
    cat.stage_append_delta("frontier", rows("frontier", 2.0))
    cat.commit(epoch=1)
    cat.stage_append_delta("frontier", rows("frontier", 3.0))
    cat.commit(epoch=2)
    got = cat.read("frontier").collect()
    assert len(got) == 1 and got[0]["priority"] == 3.0
