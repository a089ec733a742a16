"""Spark path == local runner on a generated corpus, with no reference
fixture: the engine's own synthetic pages (io.pages.make_pages_pdf —
uniform points, dense city clusters, random-walk lines, convex
polygons, date-line straddlers) parsed through the GeoJSON import path.

Covers what the fixture-based differential tests cover when the
reference fixtures are present: the as-needed modes' two-pass encode (and
that pass 0 really ratchets), a forced spool spill,
--extend-zooms-if-still-dropping, and the CLI's mbtiles metadata."""

from __future__ import annotations

import functools
import gzip
import os
import sqlite3
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_PAGES = 1500
SEED = 7

#: every one of these ratchets a zoom-global parameter in pass 0
AS_NEEDED = [
    "-z3 -O60 --drop-densest-as-needed",
    "-z4 -O60 --drop-densest-as-needed",
    "-z3 -M3000 --drop-fraction-as-needed",
    "-z3 -O60 --cluster-densest-as-needed",
    "-z3 -O50 --cluster-densest-as-needed -E kind:comma",
    "-z3 -O60 --coalesce-densest-as-needed",
    "-z3 -M10000 --drop-smallest-as-needed",
    "-z3 -M10000 --coalesce-smallest-as-needed",
    "-Z1 -z3 -O150 --increase-gamma-as-needed",
]


@pytest.fixture(scope="module")
def spark():
    from tippecanoe_spark.session import get_spark

    yield get_spark(master="local[4]", shuffle_partitions=8)


@functools.lru_cache(maxsize=1)
def _blocks() -> tuple:
    """(page index, GeoJSON text) of every feature block in the corpus."""
    from tippecanoe_spark.io.pages import extract_geojson_blocks, make_pages_pdf

    pdf = make_pages_pdf(N_PAGES, seed=SEED)
    return tuple((i, b) for i, html in enumerate(pdf["html"])
                 for b in extract_geojson_blocks(html))


def _features(cfg) -> list:
    from tippecanoe_spark.io.geojson import feature_records

    feats = []
    for i, block in _blocks():
        feats.extend(feature_records(block, "pages", cfg, seq_start=i))
    return feats


def _local_build(monkeypatch, feats, cfg):
    """(build_tiles_local's tiles, its merged pass-0 params by zoom)."""
    from tippecanoe_spark import pipeline

    by_zoom = []  # one params dict per zoom, met in zoom order from z0
    orig = pipeline._merge_zoom_stats

    def record(params, stats):
        if not any(p is params for p in by_zoom):
            by_zoom.append(params)
        orig(params, stats)

    with monkeypatch.context() as m:
        m.setattr(pipeline, "_merge_zoom_stats", record)
        tiles = pipeline.build_tiles_local([dict(f) for f in feats], cfg)
    return tiles, dict(enumerate(by_zoom))


def _spark_build(spark, monkeypatch, feats, opts, parts):
    """(tiles, {z: params} merged by the as-needed pass 0 — empty when
    no pass 0 ran)."""
    from tests.conftest import options_to_config
    from tippecanoe_spark import pipeline

    merged = {}
    orig = pipeline._merge_pass0_rows

    def record(params_by_z, rows):
        still = orig(params_by_z, rows)
        merged.update({z: dict(p) for z, p in params_by_z.items()})
        return still

    with monkeypatch.context() as m:
        m.setattr(pipeline, "_merge_pass0_rows", record)
        df = spark.createDataFrame(pipeline.features_to_pdf(feats)).repartition(parts)
        tiles = {(r["z"], r["x"], r["y"]): bytes(r["tile"]) for r in
                 pipeline.build_tiles(spark, df, options_to_config(opts)).collect()}
    return tiles, merged


@pytest.mark.parametrize("opts", AS_NEEDED)
def test_as_needed_matches_local(spark, monkeypatch, opts):
    """One sort, one pass-0 job and one pass-1 stage for all zooms give
    the local runner's per-zoom two-pass bytes at two partition counts.
    The merged pass-0 params equal the local runner's exactly (mingap
    is a 64-bit gap: a double would round it), and the ratchet moved
    off its initial value at one zoom or more."""
    from tests.conftest import options_to_config
    from tippecanoe_spark.pipeline import _zoom_params_init

    cfg = options_to_config(opts)
    feats = _features(cfg)
    local, local_params = _local_build(monkeypatch, feats, cfg)
    assert local
    want = {z: local_params[z] for z in range(cfg.minzoom, cfg.maxzoom + 1)}
    assert any(p != _zoom_params_init(z, cfg) for z, p in want.items()), opts
    for parts in (2, 7):
        got, merged = _spark_build(spark, monkeypatch, feats, opts, parts)
        assert got == local, (opts, parts)
        assert merged == want, (opts, parts)


def test_spilled_as_needed_matches_local(spark, monkeypatch):
    """256-row Arrow batches and a 64-row spool: every hot tile run
    crosses batches and spills to disk in both passes."""
    from tests.conftest import options_to_config
    from tippecanoe_spark.core import geomops as g

    monkeypatch.setenv("TS_SPOOL_MEM_ROWS", "64")
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
    try:
        for opts in ("-z3 -O60 --drop-densest-as-needed",
                     "-z3 -M10000 --drop-smallest-as-needed"):
            cfg = options_to_config(opts)
            feats = _features(cfg)
            # the shrink removes only point rows, so the z0 tile run
            # holds at least every line and polygon: more than a batch
            assert sum(f["t"] != g.VT_POINT for f in feats) > 256
            local, local_params = _local_build(monkeypatch, feats, cfg)
            got, merged = _spark_build(spark, monkeypatch, feats, opts, 3)
            assert got == local, opts
            assert merged == {z: local_params[z] for z in merged}, opts
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_batch)


def test_extend_zooms_matches_local(spark, monkeypatch):
    """--extend-zooms-if-still-dropping grows -z1 to a data-dependent
    maxzoom and stops there, identically on both paths."""
    from tests.conftest import options_to_config
    from tippecanoe_spark.pipeline import build_tiles_local

    opts = "-z1 -O150 --drop-densest-as-needed --extend-zooms-if-still-dropping"
    cfg = options_to_config(opts)
    feats = _features(cfg)
    local = build_tiles_local([dict(f) for f in feats], cfg)
    assert 1 < max(z for z, _x, _y in local) < 24
    for parts in (2, 7):
        got, _merged = _spark_build(spark, monkeypatch, feats, opts, parts)
        assert got == local, parts


def test_cli_spark_matches_local_runner(spark, tmp_path):
    """Two inputs, one gzipped: the Spark CLI writes the local runner's
    tiles and the same bounds, center and json metadata (the bbox comes
    from the one persisted parse, not a second read of the files)."""
    from tippecanoe_spark.cli import main
    from tippecanoe_spark.io.mbtiles import read_mbtiles

    blocks = [b for _i, b in _blocks()]
    half = len(blocks) // 2
    p1 = tmp_path / "alpha.json"
    p1.write_text("\n".join(blocks[:half]) + "\n")
    p2 = tmp_path / "beta.json.gz"
    p2.write_bytes(gzip.compress(("\n".join(blocks[half:]) + "\n").encode()))

    outs = {}
    for mode, extra in (("spark", ["--spark-master", "local[4]"]),
                        ("local", ["--local-runner"])):
        out = tmp_path / f"{mode}.mbtiles"
        rc = main(["-q", "-f", "-z3", "-O60", "--drop-densest-as-needed",
                   *extra, "-o", str(out), str(p1), str(p2)])
        assert rc == 0, mode
        con = sqlite3.connect(str(out))
        meta = dict(con.execute("select name, value from metadata"))
        con.close()
        outs[mode] = (read_mbtiles(str(out)), meta)
    (spark_tiles, spark_meta), (local_tiles, local_meta) = outs["spark"], outs["local"]
    assert spark_tiles and spark_tiles == local_tiles
    for k in ("minzoom", "maxzoom", "bounds", "center", "json"):
        assert spark_meta[k] == local_meta[k], (k, spark_meta[k], local_meta[k])
