"""The benchmark's workloads.

Each workload makes its inputs from the seed, runs one build through the
engine's public functions, reads the tileset it wrote back, and computes
the reference tileset with the single-process runner
(``pipeline.build_tiles_local``) on the same features.

Inputs come from the engine's own synthetic page generator
(``io.pages.make_pages_pdf``): page ``i`` of a seed is a pure function of
``(seed, i)`` and carries one GeoJSON feature whose sequence number is
``i``.  Sizes are fixed here, not chosen per run.
"""

from __future__ import annotations

import contextlib
import os
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

from tippecanoe_spark import cli, pipeline
from tippecanoe_spark.config import TileConfig
from tippecanoe_spark.io import geojson, mbtiles, pages
from tippecanoe_spark.streaming import maintenance


def digest(tiles) -> tuple:
    """(tile count, sum of per-tile CRC32 over z/x/y and the tile bytes).

    Order-free, so a tileset read back from parquet or sqlite in any
    order digests the same as the reference dict."""
    n = crc = 0
    for z, x, y, data in tiles:
        n += 1
        crc += zlib.crc32(bytes(data), zlib.crc32(b"%d/%d/%d" % (z, x, y)))
    return n, crc


def dict_digest(tiles: dict) -> tuple:
    return digest((z, x, y, t) for (z, x, y), t in tiles.items())


def parquet_digest(spark, path: str) -> tuple:
    rows = spark.read.parquet(path).select("z", "x", "y", "tile").collect()
    return digest((r["z"], r["x"], r["y"], r["tile"]) for r in rows)


def write_pages(pdf, path: str, parts: int) -> None:
    """The page table as ``parts`` parquet files, like a table written by
    ``parts`` tasks, so the scan runs in parallel."""
    os.makedirs(path)
    pdf = pdf.assign(warc_ts=pdf["warc_ts"].dt.tz_localize("UTC"))
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-len(pdf) // parts)
    for p in range(parts):
        part = table.slice(p * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{p:05d}.parquet"),
                           coerce_timestamps="us")


def page_features(pdf, cfg: TileConfig) -> list:
    """Feature records of pages 0.. parsed in this process: the embedded
    GeoJSON of page i becomes features with sequence number i."""
    feats = []
    for i, html in enumerate(pdf["html"]):
        for block in pages.extract_geojson_blocks(html):
            feats.extend(geojson.feature_records(block, "pages", cfg, seq_start=i))
    return feats


def _null_span(_name):
    return contextlib.nullcontext()


class CliExit(RuntimeError):
    """The CLI returned a non-zero exit code."""

    def __init__(self, rc: int):
        super().__init__(f"cli.main returned {rc}")
        self.rc = rc


class PyramidZ9:
    """Pages parquet -> io.pages.extract_features_df ->
    pipeline.build_tiles(maxzoom 9) -> tiles parquet."""

    name = "pyramid_z9"
    n_pages = 1000
    #: after one warm-up build the next still runs about a fifth slower and
    #: uses a quarter more CPU
    warmup_builds = 2
    #: measured builds per run at least: a single build spread 13%
    #: (IQR/median) over five runs
    min_builds = 2

    def __init__(self, seed: int, parts: int):
        self.seed = seed
        self.parts = parts
        self.pdf = None
        self.pages_dir = None

    def cfg(self) -> TileConfig:
        return TileConfig(maxzoom=9)

    def make_inputs(self, workdir: str) -> None:
        self.pdf = pages.make_pages_pdf(self.n_pages, seed=self.seed)
        self.pages_dir = os.path.join(workdir, "pages")
        write_pages(self.pdf, self.pages_dir, self.parts)

    def build(self, spark, out: str, span=_null_span) -> None:
        cfg = self.cfg()
        feats = pages.extract_features_df(spark, spark.read.parquet(self.pages_dir), cfg)
        tiles = pipeline.build_tiles(spark, feats, cfg)
        with span("io.parquet.sink"):
            tiles.write.parquet(out)

    def output_digest(self, spark, out: str) -> tuple:
        return parquet_digest(spark, out)

    def reference(self) -> tuple:
        """(digest, feature count) from the single-process runner."""
        cfg = self.cfg()
        feats = page_features(self.pdf, cfg)
        return dict_digest(pipeline.build_tiles_local(feats, cfg)), len(feats)


class DensestCliZ1:
    """``cli.main -o <fresh>.mbtiles -z1 --drop-densest-as-needed -l pages``
    over a line-delimited GeoJSON export of the same page corpus."""

    name = "densest_cli_z1"
    n_pages = 1000
    #: the first build takes about twice as long as the next ones, and
    #: after one warm-up the first measured build still ran slowest
    warmup_builds = 2
    #: one build per run after one warm-up (at -z2) spread 17-28%
    #: (IQR/median) over ten runs
    min_builds = 2
    options = ["-z1", "--drop-densest-as-needed"]

    def __init__(self, seed: int, parts: int):
        self.seed = seed
        self.path = None

    def make_inputs(self, workdir: str) -> None:
        pdf = pages.make_pages_pdf(self.n_pages, seed=self.seed)
        os.makedirs(workdir)
        self.path = os.path.join(workdir, "pages.json")
        with open(self.path, "w") as f:
            for html in pdf["html"]:
                for block in pages.extract_geojson_blocks(html):
                    f.write(block + "\n")

    def build(self, spark, out: str, span=_null_span) -> None:
        rc = cli.main(["-q", "-o", out, *self.options, "-l", "pages", self.path])
        if rc != 0:
            raise CliExit(rc)

    def output_digest(self, spark, out: str) -> tuple:
        return dict_digest(mbtiles.read_mbtiles(out))

    def reference(self) -> tuple:
        cfg = cli.options_to_config(self.options)
        feats = geojson.features_from_file(self.path, cfg, "pages")
        return dict_digest(pipeline.build_tiles_local(feats, cfg)), len(feats)


class IncrementalCrawl:
    """streaming.maintenance.SparkTileMaintainer on a fresh store: an
    initial load of ``n_pages`` pages, then ``n_batches`` batches of
    ``batch_pages`` new pages each.  The new pages are the generator's
    next page indices, so they land at its own random positions."""

    name = "incremental_crawl"
    n_pages = 2000
    n_batches = 3
    batch_pages = 20

    def __init__(self, seed: int, parts: int):
        self.seed = seed
        self.parts = parts
        self.pdf = None
        self.dirs = []

    def cfg(self) -> TileConfig:
        return TileConfig(maxzoom=9)

    def make_inputs(self, workdir: str) -> None:
        n, b = self.n_pages, self.batch_pages
        self.pdf = pages.make_pages_pdf(n + b * self.n_batches, seed=self.seed)
        cuts = [0, n] + [n + b * (k + 1) for k in range(self.n_batches)]
        self.dirs = []
        for k in range(len(cuts) - 1):
            d = os.path.join(workdir, f"pages-{k}")
            write_pages(self.pdf.iloc[cuts[k]:cuts[k + 1]], d,
                        self.parts if k == 0 else 1)
            self.dirs.append(d)

    def maintainer(self, spark, store: str):
        return maintenance.SparkTileMaintainer(spark, self.cfg(), store)

    def batch_df(self, spark, k: int):
        """Features of input batch k (0 is the initial load)."""
        return pages.extract_features_df(spark, spark.read.parquet(self.dirs[k]), self.cfg())

    def expected(self, spark, k: int) -> tuple:
        """Digest of pipeline.build_tiles over every feature of batches 0..k."""
        df = spark.read.parquet(*self.dirs[:k + 1])
        cfg = self.cfg()
        rows = pipeline.build_tiles(spark, pages.extract_features_df(spark, df, cfg),
                                    cfg).select("z", "x", "y", "tile").collect()
        return digest((r["z"], r["x"], r["y"], r["tile"]) for r in rows)

    def reference(self) -> tuple:
        """Single-process digest of the initial load, and its feature count."""
        cfg = self.cfg()
        feats = page_features(self.pdf.iloc[:self.n_pages], cfg)
        return dict_digest(pipeline.build_tiles_local(feats, cfg)), len(feats)

    def bucket_count(self, m, tiles) -> int:
        """Distinct (zoom, quadrant) partitions of the maintained store that
        a set of tiles falls in (the store's TILE_BUCKET_BITS layout)."""
        b = m.TILE_BUCKET_BITS
        out = set()
        for z, x, y in tiles:
            s = max(0, z - b)
            out.add((z, ((x >> s) << b) | (y >> s)))
        return len(out)


WORKLOADS = {w.name: w for w in (PyramidZ9, DensestCliZ1, IncrementalCrawl)}
