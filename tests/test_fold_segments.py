"""Minor fold (Iceberg rewrite_data_files bin-pack) for partitioned-append
delta logs: `SnapshotTable.fold_segments` rewrites the smallest appended
segments into one, preserving rows, schema, per-key placement, and manifest
meta — so per-iteration reader file-opens stay O(fold_min_segments) instead
of O(commits), without the full O(visible) `compact_frontier` rewrite.

Reference analogue: the zset never fragments (one Redis structure,
redisdb.py:472-523); on a parquet delta log the fragments are the price of
append-only commits, and this is the LSM-amortized maintenance that pays it.
"""

import os

from pyspark.sql import functions as F

from feapder_spark.crawl.engine import CrawlConfig, CrawlEngine
from feapder_spark.crawl.synthweb import SyntheticWeb
from feapder_spark.store.snapshot import SnapshotStore


def _append_n(spark, t, n, rows_per=3, keys=(0, 1, 2)):
    for i in range(n):
        df = spark.createDataFrame(
            [(f"fp-{i}-{j}", i * rows_per + j) for j in range(rows_per)],
            "fp string, v int",
        ).withColumn("band", F.col("v") % len(keys))
        t.commit_append_partitioned(df, "band", coalesce_to=1, count_rows=True)


def test_fold_preserves_rows_meta_and_pruning(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path))
    t = store.table("adds")
    _append_n(spark, t, 12)
    m0 = t.manifest()
    before = sorted(tuple(r) for r in t.read().collect())
    part_rows0 = dict(m0.meta["part_rows"])
    assert len(m0.segments) == 12

    v = t.fold_segments(8)
    assert v == m0.version + 1
    m1 = t.manifest()
    # folded down to ~max/2 segments: 12 - n_fold + 1 with n_fold = 12-4+1
    assert len(m1.segments) == 4
    # rows identical, per-key counts carried verbatim (rows unchanged)
    assert sorted(tuple(r) for r in t.read().collect()) == before
    assert m1.meta["part_rows"] == part_rows0
    assert m1.schema_ddl == m0.schema_ddl
    # key-subset pruning still works and only opens that key's dirs
    sub = t.read_partition_subset(["1"])
    assert sorted(tuple(r) for r in sub.collect()) == [
        r for r in before if r[1] % 3 == 1
    ]
    assert all("pb=1" in f for f in sub.inputFiles())
    # pre-fold version still readable (time travel / checkpoint rollback)
    assert sorted(tuple(r) for r in t.read(version=m0.version).collect()) == before

    # below threshold now → no-op
    assert t.fold_segments(8) is None
    assert t.manifest().version == v


def test_fold_is_lsm_amortized_and_leaves_legacy_segments(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path))
    t = store.table("adds")
    # one legacy unpartitioned segment (pre-banding store) — must survive
    legacy = spark.createDataFrame([("legacy", 999)], "fp string, v int")
    t.commit(legacy, mode="append")
    _append_n(spark, t, 10)
    before = sorted(tuple(r) for r in t.read().collect())

    assert t.fold_segments(6) is not None
    m = t.manifest()
    legacy_segs = [s for s in m.segments if s not in (m.seg_parts or {})]
    assert len(legacy_segs) == 1, "legacy unpartitioned segment must be left alone"
    assert sorted(tuple(r) for r in t.read().collect()) == before

    # repeated append + fold keeps the count bounded at the fold target
    for _ in range(3):
        _append_n(spark, t, 6)
        t.fold_segments(6)
        assert len(t.manifest().segments) <= 7  # 6//2 partitioned + 1 legacy + slack
    assert sorted(tuple(r) for r in t.read().collect()) == sorted(
        before + [
            (f"fp-{i}-{j}", i * 3 + j)
            for i in range(6)
            for j in range(3)
        ] * 3
    )


def test_fold_size_cap_exempts_full_segments(spark, tmp_path):
    """max_fold_bytes (Iceberg target-file-size): segments at/above the cap
    are never re-folded, so an ever-growing append table (items) gets
    bounded-cost folds instead of eventually re-packing its own huge fold
    outputs — the one fold pause stays ≤ cap × n_fold at any table size."""
    store = SnapshotStore(spark, str(tmp_path))
    t = store.table("items")
    big = spark.createDataFrame(
        [(f"big-{i}", i) for i in range(20_000)], "fp string, v int"
    ).withColumn("band", F.col("v") % 3)
    t.commit_append_partitioned(big, "band", coalesce_to=1)
    big_seg = t.manifest().segments[0]
    _append_n(spark, t, 8)
    before = sorted(tuple(r) for r in t.read().collect())

    assert t.fold_segments(4, max_fold_bytes=16_384) is not None
    m = t.manifest()
    assert big_seg in m.segments, "a full-sized segment must never re-fold"
    # 9 segments, 8 under-cap foldable, keep_target=2 → n_fold=min(8,8)=8
    assert len(m.segments) == 2
    assert sorted(tuple(r) for r in t.read().collect()) == before

    # all remaining under-cap mass in one output + the capped segment:
    # nothing left to fold even far over the segment bound
    assert t.fold_segments(1, max_fold_bytes=16_384) is None


def test_fold_plain_append_table(spark, tmp_path):
    """A pure plain-append table (the seen log: commit(mode='append') per
    iteration, no hive partitioning) folds its smallest segments into one
    plain segment — rows and schema preserved, no seg_parts invented.
    This is what bounds the seen anti-join's file opens on a long crawl
    (the 560-iteration soak measured seen's 1-segment-per-iteration
    growth as the residual drift once the frontier logs were bounded)."""
    store = SnapshotStore(spark, str(tmp_path))
    t = store.table("seen")
    for i in range(10):
        df = spark.createDataFrame(
            [(f"fp-{i}-{j}", i) for j in range(3)], "fp string, it int"
        )
        t.commit(df, mode="append")
    m0 = t.manifest()
    assert len(m0.segments) == 10 and not m0.seg_parts
    before = sorted(tuple(r) for r in t.read().collect())

    v = t.fold_segments(6)
    assert v == m0.version + 1
    m1 = t.manifest()
    # keep_target=3 → n_fold=min(10, 10-3+1)=8 → 2 survivors + 1 output
    assert len(m1.segments) == 3
    assert not m1.seg_parts
    assert sorted(tuple(r) for r in t.read().collect()) == before
    assert sorted(tuple(r) for r in t.read(version=m0.version).collect()) == before
    # size cap applies to plain folds too
    assert t.fold_segments(1, max_fold_bytes=1) is None


def test_seg_bytes_stat_recorded_carried_and_used(spark, tmp_path):
    """commit_append_partitioned records per-segment byte totals in the
    manifest (Iceberg file_size_in_bytes); folds select candidates from
    that stat (no per-iteration re-LIST of every segment) and rewrite the
    map; metadata-only commits carry it; pre-stat manifests fall back to a
    cached filesystem walk and still fold correctly."""
    import json as _json
    import os as _os

    store = SnapshotStore(spark, str(tmp_path))
    t = store.table("adds")
    _append_n(spark, t, 6)
    m = t.manifest()
    assert set(m.seg_bytes) == set(m.segments)
    assert all(v > 0 for v in m.seg_bytes.values())
    # metadata-only commit carries the stat forward
    t.commit(None, meta={"mark": 1})
    assert t.manifest().seg_bytes == m.seg_bytes

    # simulate a pre-stat store: strip seg_bytes from the current manifest
    cur = t.current_version()
    mpath = _os.path.join(t.root, "_versions", f"{cur}.json")
    with open(mpath) as f:
        d = _json.load(f)
    del d["seg_bytes"]
    with open(mpath, "w") as f:
        _json.dump(d, f)
    t._size_cache.clear()
    before = sorted(tuple(r) for r in t.read().collect())
    assert t.manifest().seg_bytes is None
    assert t.fold_segments(4) is not None  # fallback walk path
    m2 = t.manifest()
    assert sorted(tuple(r) for r in t.read().collect()) == before
    # post-fold manifest regains the stat for the fold output; survivors
    # that had no stat stay absent (they'll walk once, cached)
    assert m2.seg_bytes and all(v > 0 for v in m2.seg_bytes.values())
    assert set(m2.seg_bytes) <= set(m2.segments)


def test_fold_noops_on_partition_mode_and_small_tables(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path))
    # partition-overwrite-mode table (seen blobs): never folded
    p = store.table("seen")
    df = spark.createDataFrame([("a", 0), ("b", 1)], "fp string, b int")
    p.commit_partitions(df, "b")
    assert p.fold_segments(1) is None
    # under-threshold append table: no-op
    t = store.table("adds")
    _append_n(spark, t, 3)
    assert t.fold_segments(8) is None
    # uncommitted table: no-op
    assert store.table("empty").fold_segments(4) is None


def test_engine_fold_bounds_segments_and_preserves_crawl(spark, tmp_path):
    """The in-loop minor fold (cfg.fold_min_segments) bounds BOTH delta
    logs' segment counts across many iterations while leaving the crawl
    byte-identical to a run whose default cadence never folds — and the
    banded lease pruning (manifest part_rows) keeps working across folds."""
    web = SyntheticWeb(n_hosts=2, pages_per_host=6, seed=42)
    ref = CrawlEngine(
        spark, str(tmp_path / "ref"), web,
        CrawlConfig(batch_size=3),
    )
    ref.seed(web.seeds(4))
    ref.run(max_iterations=8)

    eng = CrawlEngine(
        spark, str(tmp_path / "fold"), web,
        CrawlConfig(batch_size=3, fold_min_segments=4),
    )
    eng.seed(web.seeds(4))
    eng.run(max_iterations=8)

    assert len(ref.t("frontier").manifest().segments or []) > 4
    assert len(eng.t("frontier").manifest().segments or []) <= 5
    assert len(eng.t("frontier_tombs").manifest().segments or []) <= 5
    # the exact-mode seen log (plain appends, read every iteration) folds too
    assert len(ref.t("seen").manifest().segments or []) > 4
    assert len(eng.t("seen").manifest().segments or []) <= 5

    for name in ("crawl_order", "docs", "seen"):
        cols = [
            c for c, t in ref.t(name).read().dtypes if t != "timestamp"
        ]  # seen carries a wall-clock added_at — not comparable across runs
        r = sorted(tuple(x) for x in ref.t(name).read().select(cols).collect())
        c = sorted(tuple(x) for x in eng.t(name).read().select(cols).collect())
        assert c == r, f"{name} must be identical under folding"
    assert eng.frontier().count() == ref.frontier().count()
    assert eng._lease_band_keys(3) is not None, "band pruning survives folds"


def test_engine_items_fold_bounds_segments_preserves_rows_and_pruning(spark, tmp_path):
    """The size-capped items fold (cfg.fold_min_segments) bounds the
    items table's segment count in-loop without the out-of-band O(table)
    compact_items, leaving rows, dedup pruning safety, and bucket-pruned
    reads intact."""
    web = SyntheticWeb(n_hosts=2, pages_per_host=6, seed=42)
    ref = CrawlEngine(
        spark, str(tmp_path / "ref"), web,
        CrawlConfig(batch_size=3, items_prune_min_leaf_parts=0),
    )
    ref.seed(web.seeds(4))
    ref.run(max_iterations=8)

    eng = CrawlEngine(
        spark, str(tmp_path / "fold"), web,
        CrawlConfig(batch_size=3, fold_min_segments=3,
                    items_prune_min_leaf_parts=0),
    )
    eng.seed(web.seeds(4))
    eng.run(max_iterations=8)

    assert len(ref.t("items").manifest().segments or []) > 3
    assert len(eng.t("items").manifest().segments or []) <= 4

    r = sorted(tuple(x) for x in ref.t("items").read().collect())
    c = sorted(tuple(x) for x in eng.t("items").read().collect())
    assert c == r, "items rows must be identical under folding"
    # modulus meta carried verbatim → pruned dedup reads stay safe
    assert eng._items_pruning_safe()
    m = eng.t("items").manifest()
    assert (m.meta or {}).get("bucket_modulus") == eng.cfg.items_buckets
    assert m.seg_parts, "fold output must keep per-bucket placement"


def test_fold_plays_with_checkpoint_resume_and_gc(spark, tmp_path):
    """A fold commits a row-identical version ABOVE the last checkpoint:
    resume (rollback to the checkpointed pre-fold versions) must still see
    every row (GC retains the checkpointed manifests' segments), and a
    later expire sweeps the dereferenced fold output."""
    web = SyntheticWeb(n_hosts=2, pages_per_host=6, seed=42)
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(
        spark, wh, web, CrawlConfig(batch_size=3, fold_min_segments=3),
    )
    eng.seed(web.seeds(4))
    eng.run(max_iterations=6)
    frontier_before = sorted(
        tuple(r) for r in eng.frontier().select("fingerprint").collect()
    )
    eng.expire_snapshots(keep_checkpoints=2)

    # second process resumes: rollback crosses the fold-bumped versions
    e2 = CrawlEngine(
        spark, wh, web, CrawlConfig(batch_size=3, fold_min_segments=3),
    )
    assert e2.resume()
    assert sorted(
        tuple(r) for r in e2.frontier().select("fingerprint").collect()
    ) == frontier_before
    # drain continues cleanly across folded delta logs
    e2.run(max_iterations=50)
    assert e2.frontier().count() == 0
    # folded-away segment dirs eventually swept once checkpoints advance
    stats = e2.expire_snapshots(keep_checkpoints=2)
    assert stats["errors"] == []
    data_dir = os.path.join(wh, "frontier", "data")
    live = {
        s.split("/")[0]
        for s in (e2.t("frontier").manifest().segments or [])
    }
    # every on-disk dir is referenced by a retained manifest (no leaks of
    # fold outputs), though retained non-current manifests may keep extras
    retained = set()
    vdir = os.path.join(wh, "frontier", "_versions")
    for f in os.listdir(vdir):
        m = e2.t("frontier").manifest(int(f.split(".")[0]))
        retained.update(s.split("/")[0] for s in (m.segments or []))
        retained.update(
            p.split("/")[0] for p in (m.partitions or {}).values()
        )
    assert set(os.listdir(data_dir)) <= retained | live
