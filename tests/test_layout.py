"""Storage-layout round-trip: the partitioned/sorted parquet layout that
replaces the reference's two MySQL indexes (SqlShard.scala:64-67, SURVEY §4)."""

from pyspark.sql import functions as F

from flockdb_spark.graph import EdgeStore


def test_write_optimized_roundtrip(spark, store, tmp_path):
    path = str(tmp_path / "edges_opt")
    store.write_optimized(path)
    back = EdgeStore.read_optimized(spark, path)
    assert back.edges.count() == store.edges.count()
    # graph partition pruning: reading one graph touches only its directory
    files = back.graph(2).select(F.input_file_name()).distinct().collect()
    assert all("graph_id=2" in r[0] for r in files)
    # data content identical
    a = sorted(map(tuple, store.edges.collect()))
    b = sorted(map(tuple, back.edges.collect()))
    assert a == b


def test_zorder_layout_prunes_2d_boxes_better_than_linear(spark, tmp_path):
    """On a uniform 128x128 grid split into 16 files, a 32x32 corner box
    overlaps a small fraction of z-ordered files but every x-stripe of a
    linear sort that intersects its x range AND, crucially, a linear sort
    by x gives NO pruning for a y-only predicate while z-order still does."""
    from flockdb_spark.sources import layout

    grid = spark.range(128 * 128).selectExpr(
        "id % 128 AS x", "id div 128 AS y"
    )
    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "lin")
    layout.write_zordered(grid, zpath, "x", "y", n_files=16, bits=7)
    (
        grid.repartitionByRange(16, "x", "y")
        .sortWithinPartitions("x", "y")
        .write.mode("overwrite").parquet(lpath)
    )
    z, lin = spark.read.parquet(zpath), spark.read.parquet(lpath)

    # 2-D box: z-order touches fewer files than the x-major layout
    z_hit, z_tot = layout.file_overlap_count(z, "x", "y", (0, 31), (0, 31))
    l_hit, l_tot = layout.file_overlap_count(lin, "x", "y", (0, 31), (0, 31))
    assert z_tot == 16 and l_tot == 16
    assert z_hit < l_hit  # measured: 2 vs 4 of 16

    # y-only slice: linear-by-x cannot prune at all; z-order still can
    z_y, _ = layout.file_overlap_count(z, "x", "y", (0, 127), (0, 15))
    l_y, _ = layout.file_overlap_count(lin, "x", "y", (0, 127), (0, 15))
    assert l_y == 16 and z_y < 16


def test_zorder_key_locality_and_range(spark):
    """Morton key bijectivity on the covered domain + adjacent cells stay
    adjacent at every power-of-two block size."""
    from flockdb_spark.sources import layout

    df = spark.range(64 * 64).selectExpr("id % 64 AS x", "id div 64 AS y")
    keys = df.select(layout.zorder_key("x", "y", bits=6).alias("k")).collect()
    ks = sorted(r["k"] for r in keys)
    assert ks == list(range(64 * 64))  # bijection onto [0, 4096)


def test_store_for_rebuilds_after_inputs_regenerated_in_place(spark, tmp_path, monkeypatch):
    """No silent staleness: the persisted layout and the in-process memos key
    on the inputs' fingerprint, so rewriting an input parquet in place (as
    tools/gen_sfN.py does to its fixed output dir) rebuilds the store — and
    publishing the new layout removes the one it supersedes, but not the
    layout of a different input that shares the basename, a scratch dir, or
    a dir that records no input path."""
    import shutil
    import stat

    import pyarrow.parquet as pq

    from conftest import SF_DIR
    from flockdb_spark.queries import _store_cache_dir, params_for, store_for

    sf, twin = tmp_path / "sf", tmp_path / "other" / "sf"
    for d in (sf, twin):
        shutil.copytree(SF_DIR, d)
        for f in d.iterdir():
            f.chmod(f.stat().st_mode | stat.S_IWUSR)
        d.chmod(d.stat().st_mode | stat.S_IWUSR)
    cache = tmp_path / "cache"
    monkeypatch.setenv("FLOCKDB_STORE_CACHE", str(cache))

    before = store_for(spark, str(sf)).edges.count()
    params_before = params_for(spark, str(sf))
    old_layout = _store_cache_dir(str(sf))
    twin_layout = _store_cache_dir(str(twin))
    store_for(spark, str(twin))
    assert twin_layout.name.split("-")[0] == old_layout.name.split("-")[0]
    scratch = cache / f"{old_layout.name}.tmp-1"
    scratch.mkdir()
    (scratch / "input_path").write_text(str(sf.resolve()))
    (cache / "sf-unrecorded").mkdir()

    orders = pq.read_table(sf / "orders.parquet")
    kept = orders.num_rows // 2
    pq.write_table(orders.slice(0, kept), sf / "orders.parquet")

    after = store_for(spark, str(sf))
    # graph 1 is one edge per order; graphs 2/3 come from untouched inputs
    assert after.edges.count() == before - (orders.num_rows - kept)
    assert after.graph(1).count() == kept
    assert params_for(spark, str(sf)) is not params_before
    new_layout = _store_cache_dir(str(sf))
    assert new_layout != old_layout
    assert sorted(cache.iterdir()) == sorted(
        [new_layout, twin_layout, scratch, cache / "sf-unrecorded"]
    )


def test_cold_store_for_publishes_one_layout_and_persists_nothing(spark, tmp_path, monkeypatch):
    """A cold ``store_for`` (empty layout cache, no memo) publishes exactly
    the edges and metadata tables plus the recorded input path, and leaves
    no persistent RDD behind: the session-level input scans are pinned
    before counting, so any new entry is the build's own leak."""
    from conftest import SF_DIR
    from flockdb_spark import queries
    from flockdb_spark.sources.edges import _read

    for table in ("orders", "events", "lineitem"):
        _read(spark, SF_DIR, table)
    monkeypatch.setenv("FLOCKDB_STORE_CACHE", str(tmp_path / "cache"))
    monkeypatch.setattr(queries, "_STORES", {})
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()

    st = queries.store_for(spark, SF_DIR)
    assert st.edges.count() > 0 and st.metadata.count() > 0
    assert persistent().size() == before
    layout = queries._store_cache_dir(SF_DIR)
    assert sorted(p.name for p in layout.iterdir()) == ["edges", "input_path", "metadata"]


def test_older_layout_version_is_superseded(spark, tmp_path, monkeypatch):
    """A layout an older ``_LAYOUT_VERSION`` wrote for the same inputs is
    removed, with every table it holds, when the current layout is
    published (version 2 layouts also held a bucketed edge copy)."""
    from pathlib import Path

    from conftest import SF_DIR
    from flockdb_spark import queries

    cache = tmp_path / "cache"
    monkeypatch.setenv("FLOCKDB_STORE_CACHE", str(cache))
    monkeypatch.setattr(queries, "_STORES", {})
    current = queries._LAYOUT_VERSION
    monkeypatch.setattr(queries, "_LAYOUT_VERSION", current - 1)
    old = queries._store_cache_dir(SF_DIR)
    (old / "edges").mkdir(parents=True)
    (old / "input_path").write_text(str(Path(SF_DIR).resolve()))
    monkeypatch.setattr(queries, "_LAYOUT_VERSION", current)

    queries.store_for(spark, SF_DIR)
    assert list(cache.iterdir()) == [queries._store_cache_dir(SF_DIR)]
