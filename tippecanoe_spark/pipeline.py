"""End-to-end tileset build.

Two runners share the same per-tile kernel (operators.tiler.process_tile):

- ``build_tiles_local``: pure-Python BFS over the zoom cascade.  Used by
  the pytest parity suite (fast, no JVM) and as the semantic reference.
- ``build_tiles``: the Spark pipeline, mirroring the reference's
  traverse_zooms structure (tile.cpp:2650-2931):

    features (z=0 root)
      └─ mapInPandas cascade (narrow fan-out, all zooms, column _z)
           └─ repartition(packed(z,x,y)) + sortWithinPartitions(
                packed_key, unsigned ix, seq)              [one shuffle]
                └─ mapInPandas streaming encode → (z, x, y, tile)

  The encode is a sorted ITERATOR, not a group materialization (r4):
  complete in-batch tile runs take a vectorized per-batch body; runs
  crossing batch boundaries (hot z0-z4 groups) stream through a
  disk-spilling spool and process_tile's re-iterable retry ladder —
  task memory is the survivors, the reference's own temp-file memory
  profile.  Hot low zooms are additionally kept small by the map-side
  prefilter (plain modes) / witness-lemma shrink (as-needed/accumulate
  modes); see docs/SCALING.md.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .config import TileConfig
from .core import geomops as g
from .core.dropping import minzoom_rank_approx, minzoom_sequence
from .operators.tiler import process_tile

# ---------------------------------------------------------------------------
# feature_minzoom assignment


def _eligible_mask(t: np.ndarray, cfg: TileConfig) -> np.ndarray:
    """calc_feature_minzoom eligibility (main.cpp:274-276); gamma >= 0
    always holds (default 0)."""
    m = t == g.VT_POINT
    if cfg.drop_lines:
        m |= t == g.VT_LINE
    if cfg.drop_polygons:
        m |= t == g.VT_POLYGON
    return m


def assign_minzoom_local(features: list, cfg: TileConfig, mode: str = "exact") -> None:
    """Sort features by (ix, seq) and set fmz in place."""
    features.sort(key=lambda f: (f["ix"] if f["ix"] >= 0 else f["ix"] + (1 << 64), f["seq"]))
    ts = np.asarray([f["t"] for f in features], dtype=np.int8)
    elig = _eligible_mask(ts, cfg)
    n_elig = int(elig.sum())
    if cfg.droprate <= 0 or cfg.basezoom <= 0 or n_elig == 0:
        fmz_elig = np.zeros(n_elig, dtype=np.int8)
    elif mode == "exact":
        fmz_elig = minzoom_sequence(n_elig, cfg.maxzoom, cfg.basezoom, cfg.droprate)
    else:
        fmz_elig = minzoom_rank_approx(
            np.arange(1, n_elig + 1), cfg.maxzoom, cfg.basezoom, cfg.droprate)
    k = 0
    for i, f in enumerate(features):
        if elig[i]:
            f["fmz"] = int(fmz_elig[k])
            k += 1
        else:
            f["fmz"] = 0


# ---------------------------------------------------------------------------
# local runner


def _zoom_params_init(z: int, cfg: TileConfig) -> dict:
    """Per-zoom starting ratchet values (traverse_zooms, tile.cpp:2785-2789)."""
    cd = (1 << (32 - z)) // 256 * cfg.cluster_distance
    return {"gamma": cfg.gamma, "mingap": cd * cd, "minextent": 0, "fraction": 1.0}


def _merge_zoom_stats(params: dict, stats: dict) -> None:
    if stats["gamma_out"] > params["gamma"]:
        params["gamma"] = stats["gamma_out"]
    if stats["mingap_out"] > params["mingap"]:
        params["mingap"] = stats["mingap_out"]
    if stats["minextent_out"] > params["minextent"]:
        params["minextent"] = stats["minextent_out"]
    if stats["fraction_out"] < params["fraction"]:
        params["fraction"] = stats["fraction_out"]


class TileDict(dict):
    """{(z, x, y): tile_bytes} plus .geom_ops — per-tile final drawvec
    op counts (tile.cpp:549), the busiest-tile metric for 'center'."""

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.geom_ops = {}


def build_tiles_local(features: list, cfg: TileConfig, minzoom_mode: str = "exact"):
    """BFS the zoom pyramid locally.  Returns {(z, x, y): tile_bytes}.

    With any as-needed mode, each zoom runs TWO passes (tile.cpp:2778-
    2880): pass 0 discovers the zoom-global drop parameters (max of
    per-tile gamma/mingap/minextent, min of fraction), pass 1 writes."""
    assign_minzoom_local(features, cfg, minzoom_mode)
    import copy as _copy

    if cfg.extend_zooms:
        cfg = _copy.deepcopy(cfg)  # maxzoom grows; don't mutate the caller's
        cfg.geometry_scale_override = cfg.geometry_scale  # frozen (main.cpp:3123)
    tiles = TileDict()
    current = {(0, 0): features}
    z = 0
    if cfg.one_tile is not None:
        # --one-tile z/x/y: the traversal starts (and, since -R pins
        # minzoom == maxzoom, ends) at that tile (main.cpp:1871-1875)
        z = cfg.minzoom
        current = {cfg.one_tile: features}
    maxzoom = cfg.maxzoom
    while z <= maxzoom:
        params = _zoom_params_init(z, cfg)
        still_dropping = False
        if cfg.any_as_needed:
            # every pass-0 tile starts from the SAME initial zoom params;
            # discoveries merge only after the pass (tile.cpp:2852-2880)
            init = dict(params)
            for (tx, ty), rows in sorted(current.items()):
                rows.sort(key=lambda f: (f["ix"] if f["ix"] >= 0 else f["ix"] + (1 << 64), f["seq"]))
                _tb, _ch, stats = process_tile(rows, z, tx, ty, cfg,
                                               pass_params=dict(init),
                                               emit_children=False)
                _merge_zoom_stats(params, stats)
                still_dropping = still_dropping or stats["still_dropping"]
        nxt = {}
        for (tx, ty), rows in sorted(current.items()):
            rows.sort(key=lambda f: (f["ix"] if f["ix"] >= 0 else f["ix"] + (1 << 64), f["seq"]))
            # pass-1 tiles all run with the SAME zoom-global params; a
            # tile's own retry ratchet stays local (threads share nothing
            # during a pass, tile.cpp:2792-2880)
            tile_bytes, children, stats = process_tile(
                rows, z, tx, ty, cfg, pass_params=dict(params))
            still_dropping = still_dropping or stats["still_dropping"]
            if tile_bytes is not None and z >= cfg.minzoom:
                tiles[(z, tx, ty)] = tile_bytes
                tiles.geom_ops[(z, tx, ty)] = stats["geom_ops"]
            for ch in children:
                nxt.setdefault((ch.pop("tile_x"), ch.pop("tile_y")), []).append(ch)
        if cfg.extend_zooms and z == maxzoom and still_dropping and maxzoom < 24:
            maxzoom += 1
            cfg.maxzoom = maxzoom  # detail_at/maxzoom-dependent gates follow
        current = nxt
        z += 1
        if not current:
            break
    return tiles


# ---------------------------------------------------------------------------
# Spark runner

# props (keys/types/values) pickled into one binary column and
# coordinates packed as raw little-endian int64 — fixed-width + binary
# columns keep Arrow transfers and shuffle writes cheap (no per-row
# Python object lists)
FEATURE_SCHEMA_DDL = (
    "tile_x long, tile_y long, layer string, seq long, t tinyint, "
    "has_id boolean, id long, tp_minzoom int, tp_maxzoom int, fmz tinyint, "
    "ix long, extent long, props binary, ops binary, xs binary, ys binary"
)


def pack_props(keys, vtypes, values) -> bytes:
    import pickle

    if not keys:
        return b""
    return pickle.dumps((list(keys), list(vtypes), list(values)), protocol=4)


def unpack_props(blob):
    import pickle

    if not blob:
        return [], [], []
    return pickle.loads(bytes(blob))

STAGE_SCHEMA_DDL = FEATURE_SCHEMA_DDL + ", kind tinyint, z int, tile binary"


def features_to_pdf(features: list) -> pd.DataFrame:
    """Feature dicts (io.geojson.feature_records) → pandas frame in the
    cascade schema (geometry ops packed as bytes; ix mapped to
    order-preserving signed int64)."""
    rows = []
    for f in features:
        rows.append({
            "tile_x": 0,
            "tile_y": 0,
            "layer": f["layer"],
            "seq": f["seq"],
            "t": f["t"],
            "has_id": f["has_id"],
            "id": np.int64(np.uint64(f["id"] % (1 << 64))),
            "tp_minzoom": f["tp_minzoom"],
            "tp_maxzoom": f["tp_maxzoom"],
            "fmz": f.get("fmz", 0),
            "ix": np.int64(np.uint64(f["ix"] % (1 << 64))),
            "extent": f["extent"],
            "props": pack_props(f["keys"], f["vtypes"], f["values"]),
            "ops": np.asarray(f["ops"], dtype=np.uint8).tobytes(),
            "xs": np.asarray(f["xs"], dtype=np.int64).tobytes(),
            "ys": np.asarray(f["ys"], dtype=np.int64).tobytes(),
        })
    return pd.DataFrame(rows)


def _pdf_rows_to_dicts(pdf: pd.DataFrame):
    out = []
    for r in pdf.itertuples(index=False):
        keys, vtypes, values = unpack_props(r.props)
        out.append({
            "layer": r.layer,
            "seq": r.seq,
            "t": r.t,
            "has_id": bool(r.has_id),
            "id": int(np.uint64(np.int64(r.id))),
            "tp_minzoom": r.tp_minzoom,
            "tp_maxzoom": r.tp_maxzoom,
            "fmz": r.fmz,
            "ix": r.ix,
            "extent": r.extent,
            "keys": keys,
            "vtypes": vtypes,
            "values": values,
            "ops": np.frombuffer(r.ops, dtype=np.uint8),
            "xs": np.frombuffer(r.xs, dtype=np.int64),
            "ys": np.frombuffer(r.ys, dtype=np.int64),
        })
    return out


def _empty_stage_pdf() -> pd.DataFrame:
    return pd.DataFrame({
        "tile_x": pd.Series(dtype="int64"),
        "tile_y": pd.Series(dtype="int64"),
        "layer": pd.Series(dtype="object"),
        "seq": pd.Series(dtype="int64"),
        "t": pd.Series(dtype="int8"),
        "has_id": pd.Series(dtype="bool"),
        "id": pd.Series(dtype="int64"),
        "tp_minzoom": pd.Series(dtype="int32"),
        "tp_maxzoom": pd.Series(dtype="int32"),
        "fmz": pd.Series(dtype="int8"),
        "ix": pd.Series(dtype="int64"),
        "extent": pd.Series(dtype="int64"),
        "props": pd.Series(dtype="object"),
        "ops": pd.Series(dtype="object"),
        "xs": pd.Series(dtype="object"),
        "ys": pd.Series(dtype="object"),
        "kind": pd.Series(dtype="int8"),
        "tile": pd.Series(dtype="object"),
    })


def _sort_rows_by_tile(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order tiles, then the global (ix, seq) order within each tile
    (ix compared as unsigned: indexcmp, main.cpp:223)."""
    order = np.lexsort((
        pdf["seq"].to_numpy(),
        pdf["ix"].to_numpy().astype(np.uint64),
        pdf["tile_y"].to_numpy(),
        pdf["tile_x"].to_numpy(),
    ))
    return pdf.iloc[order]


def _zoom_pass_params(pass_params: dict | None, z: int) -> dict | None:
    """A fresh copy of zoom z's entry of a ``{z: params}`` map (None when
    no as-needed mode runs): process_tile ratchets its copy tile-locally."""
    return dict(pass_params[z]) if pass_params else None


def _encode_sorted_frame(pdf: pd.DataFrame, cfg: TileConfig, prefilter: bool,
                         pass_params: dict | None = None,
                         still_flag: list | None = None) -> list:
    """Encode every COMPLETE (z, tile) run of an already-sorted frame
    (the streaming encoder's in-batch path).  One prefilter pass per z
    slice, one dict conversion for all slow rows, columnar fast path for
    all-point runs.  ``pass_params``: None, or the as-needed modes'
    zoom-global ratchet values as ``{z: params}`` — each tile runs with
    its own zoom's entry.  Returns (z, x, y, tile, gops) records."""
    from .operators.tiler import (FAST_LIMIT_EXCEEDED, encode_points_tile_fast,
                                  prefilter_dropped_mask)

    if prefilter and len(pdf):
        keep = np.ones(len(pdf), dtype=bool)
        for z in np.unique(pdf["_z"].to_numpy()):
            m = (pdf["_z"] == z).to_numpy()
            keep[m] = prefilter_dropped_mask(pdf[m], int(z), cfg)
        pdf = pdf[keep]
    if not len(pdf):
        return []
    zs = pdf["_z"].to_numpy()
    txs = pdf["tile_x"].to_numpy()
    tys = pdf["tile_y"].to_numpy()
    t_arr = pdf["t"].to_numpy()
    tpmin = pdf["tp_minzoom"].to_numpy()
    n = len(pdf)
    bounds = [0] + [i for i in range(1, n) if zs[i] != zs[i - 1] or txs[i] != txs[i - 1] or tys[i] != tys[i - 1]] + [n]

    # columnar fast path for all-point tile runs (the dominant case);
    # line/polygon tiles go through the exact full ladder.  When the
    # prefilter ran, gate-skipped rows are already gone, which the
    # fast path relies on.
    run_len = np.diff(bounds)
    starts = np.asarray(bounds[:-1])
    is_point = t_arr == 1
    point_prefix = np.cumsum(is_point)
    fast_runs = np.zeros(len(starts), dtype=bool)
    if prefilter:
        ends = starts + run_len
        pts_in_run = point_prefix[ends - 1] - np.where(starts > 0, point_prefix[starts - 1], 0)
        # z0 excluded: edge-touching points are duplicated across the
        # date line there (clip_to_tile, tile.cpp:1228-1254)
        fast_runs = (pts_in_run == run_len) & (zs[starts] >= cfg.minzoom) & (zs[starts] > 0)
    slow_idx_mask = np.zeros(n, dtype=bool)
    for ri, st in enumerate(starts):
        if not fast_runs[ri]:
            slow_idx_mask[st: st + run_len[ri]] = True
    slow_rows = _pdf_rows_to_dicts(pdf[slow_idx_mask]) if slow_idx_mask.any() else []

    cols = {
        "t": t_arr,
        "fmz": pdf["fmz"].to_numpy(),
        "tp_minzoom": tpmin,
        "xs": pdf["xs"].to_numpy(),
        "ys": pdf["ys"].to_numpy(),
        "props": pdf["props"].to_numpy(),
        "layer": pdf["layer"].to_numpy(),
        "has_id": pdf["has_id"].to_numpy(),
        "id": pdf["id"].to_numpy(),
    }
    recs = []
    slow_pos = 0
    for ri, st in enumerate(starts):
        z, tx, ty = int(zs[st]), int(txs[st]), int(tys[st])
        cnt = int(run_len[ri])
        if fast_runs[ri]:
            run = {k: v[st: st + cnt] for k, v in cols.items()}
            tb = encode_points_tile_fast(run, z, tx, ty, cfg)
            if tb is FAST_LIMIT_EXCEEDED:
                # a tile limit fired: redo through the exact retry
                # ladder (detail reduction / fraction shrink)
                tb, _children, stats = process_tile(
                    _pdf_rows_to_dicts(pdf.iloc[st: st + cnt]), z, tx, ty,
                    cfg, pass_params=_zoom_pass_params(pass_params, z),
                    emit_children=False)
                if still_flag is not None and stats["still_dropping"]:
                    still_flag.append(True)
                if tb is not None:
                    recs.append((z, tx, ty, tb, stats["geom_ops"]))
            elif tb is not None:
                recs.append((z, tx, ty) + tb)
        else:
            tile_bytes, _children, stats = process_tile(
                slow_rows[slow_pos: slow_pos + cnt], z, tx, ty, cfg,
                pass_params=_zoom_pass_params(pass_params, z),
                emit_children=False)
            slow_pos += cnt
            if still_flag is not None and stats["still_dropping"]:
                still_flag.append(True)
            if tile_bytes is not None:
                recs.append((z, tx, ty, tile_bytes, stats["geom_ops"]))
    return recs


def _empty_tiles_pdf() -> pd.DataFrame:
    return pd.DataFrame({
        "z": pd.Series(dtype="int32"),
        "x": pd.Series(dtype="int64"),
        "y": pd.Series(dtype="int64"),
        "tile": pd.Series(dtype="object"),
        "gops": pd.Series(dtype="int64"),
    })


# ---------------------------------------------------------------------------
# streaming encode (sorted-iterator; bounded memory per tile group)

# in-memory rows per tile run before the spool spills to local disk
_SPOOL_MEM_ROWS_ENV = "TS_SPOOL_MEM_ROWS"
_SPOOL_MEM_BYTES_ENV = "TS_SPOOL_MEM_BYTES"
_SPOOL_SLICE_BYTES_ENV = "TS_SPOOL_SLICE_BYTES"


def _spool_dir():
    """Executor-local spill directory: Spark's configured local dirs
    (SPARK_LOCAL_DIRS / spark.local.dir reach the python worker via
    the env), falling back to the process default TMPDIR — so on
    clusters where /tmp is small or memory-backed the spool spills to
    the same disks as Spark's own shuffle files."""
    import os as _os

    for var in ("SPARK_LOCAL_DIRS", "SPARK_LOCAL_DIR"):
        v = _os.environ.get(var)
        if v:
            d = v.split(",")[0].strip()
            if d and _os.path.isdir(d):
                return d
    return None


def _pdf_bytes_est(sl: pd.DataFrame) -> int:
    """Cheap byte estimate of a cascade-schema slice: fixed-width
    columns at ~120 B/row plus the variable binary payloads (props,
    ops, xs, ys) measured exactly.  One O(n) pass, no deep pandas
    introspection."""
    b = len(sl) * 120
    for c in ("props", "ops", "xs", "ys"):
        if c in sl.columns:
            b += int(sum(len(v) for v in sl[c].to_numpy()))
    return b


class _TileSpool:
    """Accumulates ONE (z, x, y) tile run as sorted pandas slices with
    bounded memory: past ``mem_rows`` rows OR ``mem_bytes`` estimated
    bytes (wide-row corpora hit the byte bound long before the row
    bound) the slices spill to an executor-local temp file (pickle
    stream, under Spark's local dirs) and every later slice goes
    straight to disk.  Oversized slices are split to ``slice_bytes``
    chunks before buffering/pickling so no single pickled record — and
    no single chunk re-materialized during iter_rows — exceeds the
    budget.  This is the reference's temp-geometry-file architecture
    (write_tile streams features from disk and seeks back to the tile's
    start on every retry, tile.cpp:2332-2520): ``iter_rows`` re-reads
    the spill from the top, so process_tile's retry ladder can run any
    number of passes while holding only the survivors in memory."""

    __slots__ = ("slices", "rows", "mem_rows", "mem_bytes", "bytes",
                 "slice_bytes", "all_points", "_tmp")

    def __init__(self, mem_rows: int, mem_bytes: int | None = None,
                 slice_bytes: int | None = None):
        import os as _os

        self.slices = []
        self.rows = 0
        self.bytes = 0
        self.mem_rows = mem_rows
        self.mem_bytes = mem_bytes if mem_bytes is not None else int(
            _os.environ.get(_SPOOL_MEM_BYTES_ENV, str(64 << 20)))
        self.slice_bytes = slice_bytes if slice_bytes is not None else int(
            _os.environ.get(_SPOOL_SLICE_BYTES_ENV, str(8 << 20)))
        self.all_points = True
        self._tmp = None

    def add(self, sl: pd.DataFrame) -> None:
        if self.all_points and not (sl["t"].to_numpy() == 1).all():
            self.all_points = False
        est = _pdf_bytes_est(sl)
        if est > self.slice_bytes and len(sl) > 1:
            n_chunks = min(-(-est // self.slice_bytes), len(sl))
            step = -(-len(sl) // n_chunks)
            for lo in range(0, len(sl), step):
                self._add_one(sl.iloc[lo: lo + step],
                              _pdf_bytes_est(sl.iloc[lo: lo + step]))
        else:
            self._add_one(sl, est)

    def _add_one(self, sl: pd.DataFrame, est: int) -> None:
        import pickle

        self.rows += len(sl)
        self.bytes += est
        if self._tmp is None and (self.rows > self.mem_rows
                                  or self.bytes > self.mem_bytes):
            import tempfile

            self._tmp = tempfile.TemporaryFile(prefix="ts_spool_",
                                               dir=_spool_dir())
            for s in self.slices:
                pickle.dump(s, self._tmp, protocol=4)
            self.slices = []
        if self._tmp is not None:
            pickle.dump(sl, self._tmp, protocol=4)
        else:
            self.slices.append(sl)

    @property
    def spilled(self) -> bool:
        return self._tmp is not None

    def concat(self) -> pd.DataFrame:
        assert self._tmp is None
        if len(self.slices) == 1:
            return self.slices[0]
        return pd.concat(self.slices, ignore_index=True)

    def iter_rows(self):
        """Fresh row-dict iterator over the whole run (re-iterable:
        each call re-reads the spill)."""
        import pickle

        if self._tmp is None:
            for sl in self.slices:
                yield from _pdf_rows_to_dicts(sl)
            return
        self._tmp.flush()
        self._tmp.seek(0)
        while True:
            try:
                sl = pickle.load(self._tmp)
            except EOFError:
                break
            yield from _pdf_rows_to_dicts(sl)

    def close(self) -> None:
        if self._tmp is not None:
            self._tmp.close()
            self._tmp = None
        self.slices = []


def _sorted_for_encode(allz, n_shards: int):
    """Hash-distribute tile groups and sort each partition into the
    cascade's canonical order: (_z, tile, unsigned ix, seq).  Tile runs
    arrive contiguous in the mapInPandas batch stream, so the encoder
    never needs a whole group in memory (vs groupBy().applyInPandas,
    which materializes each group as ONE pandas frame — the z0-z4
    scale-killer for polygon/line corpora under as-needed modes).

    (z, x, y) packs into ONE long sort key — z <= 24 (MAX_ZOOM) in 5
    bits, x/y < 2^24 in 29 bits each, non-overlapping so the packed
    order == the lexicographic order — which keeps the JVM sort on its
    8-byte-prefix fast path (~12% off the encode stage vs a 5-column
    sort)."""
    from pyspark.sql import functions as F

    return (
        allz.withColumn("_six", F.col("ix").bitwiseXOR(F.lit(-(1 << 63)).cast("long")))
        .withColumn("_gk", F.expr(
            "shiftleft(CAST(_z AS BIGINT), 58) + shiftleft(tile_x, 29) + tile_y"))
        .repartition(n_shards, "_gk")
        .sortWithinPartitions("_gk", "_six", "seq")
        .drop("_gk")
    )


def _stream_segments(it, mem_rows: int | None = None):
    """Split the sorted batch stream into two kinds of work units:

      ("frame", sub_pdf)      — a slice of one batch holding only
                                COMPLETE tile runs → vectorized
                                processing, one pandas pass per batch
                                (per-run pandas overhead would be ~4x
                                the actual encode work: most tiles hold
                                a handful of rows)
      ("run", key, spool)     — a run that CROSSES batch boundaries
                                (the hot-tile case) accumulated in a
                                disk-spilling spool; caller owns
                                spool.close()

    Only the last run of each batch can cross into the next batch, so
    at most one spool is open at a time and the frame path carries
    ~everything on healthy data."""
    import os as _os

    if mem_rows is None:
        mem_rows = int(_os.environ.get(_SPOOL_MEM_ROWS_ENV, str(1 << 16)))
    key = None
    spool = None
    for pdf in it:
        drop = [c for c in ("_shard", "_six") if c in pdf.columns]
        if drop:
            pdf = pdf.drop(columns=drop)
        n = len(pdf)
        if not n:
            continue
        zs = pdf["_z"].to_numpy()
        txs = pdf["tile_x"].to_numpy()
        tys = pdf["tile_y"].to_numpy()
        change = np.nonzero(
            (zs[1:] != zs[:-1]) | (txs[1:] != txs[:-1]) | (tys[1:] != tys[:-1])
        )[0] + 1
        bounds = [0, *change.tolist(), n]
        first_key = (int(zs[0]), int(txs[0]), int(tys[0]))

        mid_lo = 0
        if spool is not None:
            if key == first_key:
                hi = bounds[1]
                spool.add(pdf.iloc[0:hi].copy() if hi < n else pdf)
                if hi == n:
                    continue  # the whole batch belongs to the open run
                mid_lo = hi
            yield "run", key, spool
            key, spool = None, None

        tail_lo = bounds[-2]
        last_key = (int(zs[tail_lo]), int(txs[tail_lo]), int(tys[tail_lo]))
        if mid_lo < tail_lo:
            yield "frame", pdf.iloc[mid_lo:tail_lo]
        # the batch's last run may continue in the next batch: spool it
        key = last_key
        spool = _TileSpool(mem_rows)
        spool.add(pdf.iloc[tail_lo:n].copy() if tail_lo > 0 else pdf)
    if spool is not None:
        yield "run", key, spool


def _make_stream_encoder(cfg: TileConfig, prefilter: bool,
                         pass_params: dict | None = None,
                         still_acc=None):
    """mapInPandas encode over sorted partitions: one tile run at a
    time, spilled to local disk past the spool threshold.  Small
    in-memory runs keep the columnar fast path (all-point runs) and the
    one-shot dict conversion; spilled runs stream through process_tile's
    re-iterable retry ladder with survivor-bounded memory.

    ``pass_params``: None, or the as-needed pass-1 ratchet values as
    ``{z: params}``; one encoder serves every zoom of the sorted stream,
    each tile reading its own zoom's entry.

    ``still_acc``: optional Spark accumulator OR-ing per-tile
    still_dropping (extend-zooms decision at the last zoom).  Task
    retries can only re-add — an OR is idempotent, so transformation-
    side accumulation is safe here."""
    import os as _os

    from .operators.tiler import (FAST_LIMIT_EXCEEDED, encode_points_tile_fast,
                                  prefilter_dropped_mask, process_tile)

    # read DRIVER-side at plan-build time (the worker daemon's env is
    # frozen at JVM start, so a late setenv would silently not reach it)
    mem_rows = int(_os.environ.get(_SPOOL_MEM_ROWS_ENV, str(1 << 16)))

    def encode_run(key, spool):
        z, tx, ty = key
        try:
            pp = _zoom_pass_params(pass_params, z)
            if not spool.spilled:
                pdf = spool.concat()
                if prefilter and len(pdf):
                    pdf = pdf[prefilter_dropped_mask(pdf, z, cfg)]
                if not len(pdf):
                    return None
                # columnar fast path for all-point runs (the dominant
                # case).  z0 excluded: edge-touching points are
                # duplicated across the date line there (clip_to_tile,
                # tile.cpp:1228-1254).  Requires the exact prefilter
                # (just ran, whole-run = whole-tile, so it IS exact).
                if (prefilter and spool.all_points and z >= cfg.minzoom
                        and z > 0):
                    run = {k: pdf[k].to_numpy()
                           for k in ("t", "fmz", "tp_minzoom", "xs", "ys",
                                     "props", "layer", "has_id", "id")}
                    tb = encode_points_tile_fast(run, z, tx, ty, cfg)
                    if tb is not FAST_LIMIT_EXCEEDED:
                        return (z, tx, ty) + tb if tb is not None else None
                    # a tile limit fired: fall through to the ladder
                tb, _c, st = process_tile(
                    _pdf_rows_to_dicts(pdf), z, tx, ty, cfg,
                    pass_params=pp, emit_children=False)
            else:
                tb, _c, st = process_tile(
                    spool.iter_rows, z, tx, ty, cfg,
                    pass_params=pp, emit_children=False)
            if still_acc is not None and st["still_dropping"]:
                still_acc.add(1)
            return (z, tx, ty, tb, st["geom_ops"]) if tb is not None else None
        finally:
            spool.close()

    def fn(it):
        still = [] if still_acc is not None else None
        recs = []
        for seg in _stream_segments(it, mem_rows):
            if seg[0] == "frame":
                recs.extend(_encode_sorted_frame(
                    seg[1], cfg, prefilter, pass_params, still_flag=still))
            else:
                rec = encode_run(seg[1], seg[2])
                if rec is not None:
                    recs.append(rec)
            if len(recs) >= 256:
                yield pd.DataFrame.from_records(
                    recs, columns=["z", "x", "y", "tile", "gops"])
                recs = []
        if still_acc is not None and still:
            still_acc.add(1)
        if recs:
            yield pd.DataFrame.from_records(
                recs, columns=["z", "x", "y", "tile", "gops"])
        else:
            yield _empty_tiles_pdf()

    return fn


def _make_stream_pass0(cfg: TileConfig, params_by_z: dict):
    """Pass-0 discovery over the sorted stream (traverse_zooms'
    non-writing pass, tile.cpp:2778-2880): run every tile's ladder from
    its zoom's INITIAL params ``params_by_z[z]`` without writing, and
    emit one row of ratchet maxima (fraction minimum) per (partition,
    z) present.  One job covers every zoom, because a zoom's pass 0
    starts from ``_zoom_params_init`` and carries nothing over from the
    zoom above; the driver folds the rows with ``_merge_pass0_rows``
    (max/min, so row order and task retries cannot change the result).
    mingap travels as decimal text: it is a 64-bit unsigned gap that
    neither a long nor a double holds exactly."""
    import os as _os

    from .operators.tiler import process_tile

    mem_rows = int(_os.environ.get(_SPOOL_MEM_ROWS_ENV, str(1 << 16)))

    def fn(it):
        agg = {}  # z -> [gamma, mingap, minextent, fraction, still]

        def run(rows, z, tx, ty):
            _tb, _ch, st = process_tile(
                rows, z, tx, ty, cfg, pass_params=dict(params_by_z[z]),
                emit_children=False)
            a = agg.setdefault(z, [0.0, 0, 0, 1.0, False])
            a[0] = max(a[0], st["gamma_out"])
            a[1] = max(a[1], st["mingap_out"])
            a[2] = max(a[2], st["minextent_out"])
            a[3] = min(a[3], st["fraction_out"])
            a[4] = a[4] or st["still_dropping"]

        for seg in _stream_segments(it, mem_rows):
            if seg[0] == "frame":
                pdf = seg[1]
                rows = _pdf_rows_to_dicts(pdf)  # one conversion per frame
                zs = pdf["_z"].to_numpy()
                txs = pdf["tile_x"].to_numpy()
                tys = pdf["tile_y"].to_numpy()
                n = len(pdf)
                bounds = [0] + [i for i in range(1, n)
                                if zs[i] != zs[i - 1] or txs[i] != txs[i - 1]
                                or tys[i] != tys[i - 1]] + [n]
                for lo, hi in zip(bounds[:-1], bounds[1:]):
                    run(rows[lo:hi], int(zs[lo]), int(txs[lo]), int(tys[lo]))
            else:
                (z, tx, ty), spool = seg[1], seg[2]
                try:
                    run(spool.iter_rows if spool.spilled else
                        _pdf_rows_to_dicts(spool.concat()), z, tx, ty)
                finally:
                    spool.close()
        yield pd.DataFrame({
            "z": pd.Series(list(agg), dtype="int32"),
            "gamma_out": pd.Series([a[0] for a in agg.values()], dtype="float64"),
            "mingap": pd.Series([str(a[1]) for a in agg.values()], dtype="object"),
            "minextent": pd.Series([a[2] for a in agg.values()], dtype="int64"),
            "fraction": pd.Series([a[3] for a in agg.values()], dtype="float64"),
            "still_dropping": pd.Series([a[4] for a in agg.values()], dtype="bool"),
        })

    return fn


def _merge_pass0_rows(params_by_z: dict, rows) -> bool:
    """Fold pass-0 rows into ``{z: params}`` in place; returns the OR of
    their still_dropping flags."""
    still = False
    for r in rows:
        _merge_zoom_stats(params_by_z[r["z"]], {
            "gamma_out": r["gamma_out"], "mingap_out": int(r["mingap"]),
            "minextent_out": r["minextent"], "fraction_out": r["fraction"]})
        still = still or bool(r["still_dropping"])
    return still


def _bucket_index_expr(bounds):
    """Bucket index for a sorted literal boundary list: the count of
    boundaries strictly below the key.  A flat sum of codegen'd IF
    terms — same comparisons in the same order as a fold, so the
    integer is identical, but it stays inside whole-stage codegen
    (higher-order `aggregate()` is CodegenFallback and costs one
    interpreted Expression.eval per boundary per row).  The double
    cast is monotone in the int64 key, so the bucketing preserves the
    global (_sort_ix, seq) order across buckets."""
    from pyspark.sql import functions as F

    if not bounds:
        return F.lit(0)
    return F.expr(" + ".join(
        "IF(CAST(_sort_ix AS DOUBLE) > %s, 1, 0)" % repr(float(b))
        for b in bounds))


def assign_minzoom_spark(df, cfg: TileConfig, mode: str = "exact", max_exact_ranks: int = 5_000_000):
    """Distributed feature_minzoom: global eligible-rank by (ix, seq)
    via quantile-bucketed window + per-bucket offsets (no
    single-partition window), then rank → minzoom lookup.

    Bucket boundaries are computed once with approxQuantile and baked
    into the plan as literals, so the bucketing is a deterministic
    function of the data — recomputation (lost executor, cache
    eviction) can never shift ranks, unlike repartitionByRange whose
    sampled boundaries vary per run.  The upstream is cached only for
    the two setup actions and released before returning; the result is
    localCheckpoint'ed so downstream passes never re-run the (possibly
    expensive) extraction lineage.

    mode="exact" evaluates the reference's coupled accumulator sequence
    (driver-precomputed, broadcast); falls back to the closed-form rank
    thinning beyond ``max_exact_ranks`` (same drop rates, documented
    divergence — SURVEY.md §7.2).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    spark = df.sparkSession
    elig = _eligible_col(df, cfg)
    df = df.withColumn("_elig", elig)

    # ix stored as signed; unsigned order == order of (ix XOR minlong)
    sort_ix = F.col("ix").bitwiseXOR(F.lit(-(1 << 63)).cast("long"))
    df = df.withColumn("_sort_ix", sort_ix)

    n_part = max(spark.sparkContext.defaultParallelism, 8)
    tmp = df.persist()
    try:
        qs = [i / n_part for i in range(1, n_part)]
        bounds = sorted(set(tmp.stat.approxQuantile("_sort_ix", qs, 0.001)))
        pid_expr = _bucket_index_expr(bounds)
        dfb = tmp.withColumn("_pid", pid_expr)

        counts = dfb.filter("_elig").groupBy("_pid").count().collect()
        offsets = {}
        acc = 0
        for r in sorted(counts, key=lambda r: r["_pid"]):
            offsets[r["_pid"]] = acc
            acc += r["count"]
        total = acc

        if total == 0:
            out = dfb.withColumn("fmz", F.lit(0).cast("tinyint")).drop(
                "_elig", "_sort_ix", "_pid")
            return out.localCheckpoint(eager=True)

        w = Window.partitionBy("_pid").orderBy("_sort_ix", "seq")
        local_rank = F.sum(F.when(F.col("_elig"), 1).otherwise(0)).over(w)
        off_map = F.create_map(*[F.lit(v) for kv in offsets.items() for v in kv])
        dfb = dfb.withColumn("_rank", local_rank + off_map[F.col("_pid")])

        if cfg.droprate <= 0 or cfg.basezoom <= 0:
            out = dfb.withColumn("fmz", F.lit(0).cast("tinyint")).drop(
                "_elig", "_sort_ix", "_pid", "_rank")
            return out.localCheckpoint(eager=True)

        if mode == "exact" and total <= max_exact_ranks:
            seq_tab = minzoom_sequence(total, cfg.maxzoom, cfg.basezoom, cfg.droprate)
            btab = spark.sparkContext.broadcast(seq_tab)

            from pyspark.sql.functions import pandas_udf

            @pandas_udf("tinyint")
            def fmz_lookup(rank: pd.Series) -> pd.Series:
                tab = btab.value
                r = rank.to_numpy()
                out = np.zeros(len(r), dtype=np.int8)
                m = r >= 1
                out[m] = tab[r[m].astype(np.int64) - 1]
                return pd.Series(out)

            fmz = F.when(F.col("_elig"), fmz_lookup(F.col("_rank"))).otherwise(F.lit(0))
        else:
            mz, bz, dr = cfg.maxzoom, cfg.basezoom, cfg.droprate

            from pyspark.sql.functions import pandas_udf

            @pandas_udf("tinyint")
            def fmz_rank(rank: pd.Series) -> pd.Series:
                return pd.Series(minzoom_rank_approx(rank.to_numpy(), mz, bz, dr))

            fmz = F.when(F.col("_elig"), fmz_rank(F.col("_rank"))).otherwise(F.lit(0))

        out = dfb.withColumn("fmz", fmz.cast("tinyint")).drop(
            "_elig", "_sort_ix", "_pid", "_rank")
        # materialize (cuts lineage; blocks are GC-reclaimed with the DF)
        return out.localCheckpoint(eager=True)
    finally:
        tmp.unpersist()


def _eligible_col(df, cfg: TileConfig):
    from pyspark.sql import functions as F

    c = F.col("t") == g.VT_POINT
    if cfg.drop_lines:
        c = c | (F.col("t") == g.VT_LINE)
    if cfg.drop_polygons:
        c = c | (F.col("t") == g.VT_POLYGON)
    return c



TILES_SCHEMA_DDL = "z int, x long, y long, tile binary, gops long"


def cascade_all_zooms(df, cfg: TileConfig, prefilter: bool, shrink: bool = False):
    """All zoom levels in one narrow mapInPandas pass: the fan-out is
    per-feature (children stay under their parent), so each partition
    runs the whole pyramid locally and streams every level out with its
    _z column.

    The exact dropped-point prefilter runs HERE, map-side, before the
    encode shuffle: "an earlier quick-passing single point of the same
    (tile, layer) proves a partial exists" remains a valid proof when
    evaluated over any subset in true (ix, seq) order, so per-batch
    filtering is conservative-exact — it can only keep extra rows,
    never remove a needed one.  At the hot low zooms a batch holds
    thousands of same-tile points, so nearly all dropped rows vanish
    from shuffle I/O; the post-shuffle filter (encode side) removes the
    per-batch stragglers.

    ``shrink`` is the as-needed/accumulate analog (witness lemma,
    operators.tiler.shrink_dropped_pdf): fmz-dropped point rows whose
    fold is a no-op are removed map-side; with -E they merge into
    ordered fold packets.  This keeps the z0-z4 tile groups small under
    --drop-*-as-needed / --coalesce-* / --cluster-* / -E / -g, where the
    plain prefilter must stay off."""
    from .operators.tiler import fanout_pdf, prefilter_dropped_mask, shrink_dropped_pdf

    maxzoom = cfg.maxzoom

    def cascade(it):
        for pdf in it:
            cur = pdf
            for z in range(0, maxzoom + 1):
                if not len(cur):
                    break
                out = cur.copy()
                out["_z"] = np.int32(z)
                if (prefilter or shrink) and len(out):
                    order = np.lexsort((
                        out["seq"].to_numpy(),
                        out["ix"].to_numpy().astype(np.uint64),
                        out["tile_y"].to_numpy(),
                        out["tile_x"].to_numpy(),
                    ))
                    out = out.iloc[order]
                    if prefilter:
                        out = out[prefilter_dropped_mask(out, z, cfg)]
                    else:
                        out = shrink_dropped_pdf(out, z, cfg)
                yield out
                # fan-out always uses the UNFILTERED rows: children of a
                # dropped feature surface once z reaches their fmz
                if z < maxzoom:
                    cur = fanout_pdf(cur, z, cfg)

    return df.mapInPandas(cascade, schema=FEATURE_SCHEMA_DDL + ", _z int")


def build_tiles(spark, features_df, cfg: TileConfig, minzoom_mode: str = "exact",
                checkpoint_dir: str | None = None, skip_minzoom: bool = False,
                only_tiles=None):
    """Spark zoom-pyramid build.

    Structure (the 100 TB design):

      features ─ assign_minzoom_spark ─ rebalance
        └─ cascade_all_zooms: one narrow mapInPandas, every zoom (_z)
             └─ _encode_stage: one sort by packed (z, x, y), then the
                streaming encode (as-needed modes: one pass-0 job and
                one pass-1 stage for all zooms)

    The cascade between zooms is a narrow map (rewrite() confines
    children to their parent's subtree, so no shuffle is needed to keep
    tile groups together until the encode).  The encode sort is the
    only big shuffle; the exact dropped-point prefilter
    (operators.tiler.can_prefilter_dropped) and the witness-lemma
    shrink keep the hot z0-z4 tile groups small.
    --extend-zooms-if-still-dropping builds level by level instead
    (``_build_tiles_extend_spark``).  Returns a DataFrame (z int, x
    long, y long, tile binary, gops long).

    ``skip_minzoom``: features_df already carries an exact fmz column
    (e.g. the streaming maintainer assigns it once and reuses it for
    the change diff).  ``only_tiles``: optional (z, x, y) DataFrame —
    encode only those tiles (semi-join after the cascade; the cascade
    itself still runs every level so progressive ancestor clipping
    stays byte-exact — incremental maintenance path)."""
    from pyspark.sql import functions as F

    from .operators.tiler import can_prefilter_dropped, can_shrink_dropped

    df = features_df if skip_minzoom else \
        assign_minzoom_spark(features_df, cfg, minzoom_mode)
    par = spark.sparkContext.defaultParallelism

    if cfg.one_tile is not None:
        # --one-tile z/x/y debug build (main.cpp:1871-1875): the CLI
        # pins minzoom == maxzoom == z, and the traversal starts (and
        # ends) at the target tile with EVERY feature — clip_to_tile
        # discards the rest, exactly the local runner's semantics.  The
        # whole cascade prunes to a single zoom and a single tile group,
        # so no fan-out runs at all.
        tx, ty = cfg.one_tile
        allz = (df.withColumn("tile_x", F.lit(int(tx)).cast("long"))
                  .withColumn("tile_y", F.lit(int(ty)).cast("long"))
                  .withColumn("_z", F.lit(int(cfg.minzoom)).cast("int")))
        return _encode_stage(allz, cfg, prefilter=False, par=par)

    prefilter = can_prefilter_dropped(cfg)
    shrink = (not prefilter) and can_shrink_dropped(cfg)

    if shrink and cfg.accumulate:
        # fold packets require each cascade batch to be an (ix, seq)-
        # contiguous slice of the global order (shrink_dropped_pdf):
        # range-partition + sort so every pandas batch of every tile is
        # an interval of that tile's sequence (children inherit (ix,
        # seq), so the property survives the fan-out)
        from pyspark.sql import functions as F2

        df = (
            df.withColumn("_sx", F2.col("ix").bitwiseXOR(F2.lit(-(1 << 63)).cast("long")))
            .repartitionByRange(par * 2, "_sx", "seq")
            .sortWithinPartitions("_sx", "seq")
            .drop("_sx")
        )
    else:
        # the fmz pass leaves data range-partitioned by ix (spatially
        # clustered) — rebalance before the cascade, whose fan-out cost
        # is proportional to local feature density (per-feature,
        # order-free)
        df = df.repartition(par * 2)

    if cfg.extend_zooms and (cfg.any_as_needed or cfg.prevent_dynamic_drop):
        # --extend-zooms-if-still-dropping: maxzoom can grow while
        # building, so the cascade cannot be planned ahead — run the
        # zoom BFS driver-side, one level at a time (mirrors the local
        # runner / tile.cpp:2883 exactly)
        return _build_tiles_extend_spark(spark, df, cfg, par)

    allz = cascade_all_zooms(df, cfg, prefilter, shrink)
    if only_tiles is not None:
        # broadcast: tile COORDS only (~24 B/tile), so even a full-
        # tileset affected set broadcasts cheaply; keeps the cascade
        # narrow (no extra shuffle before the encode)
        aff = (only_tiles.selectExpr("z AS _z", "x AS tile_x", "y AS tile_y")
               .dropDuplicates(["_z", "tile_x", "tile_y"]))
        allz = allz.join(F.broadcast(aff), ["_z", "tile_x", "tile_y"], "left_semi")
    if checkpoint_dir is not None:
        allz = allz.checkpoint(eager=False)
    return _encode_stage(allz, cfg, prefilter, par)


def _build_tiles_extend_spark(spark, df, cfg_in: TileConfig, par: int):
    """Spark --extend-zooms-if-still-dropping: per-zoom BFS.

    The plan cannot be declared up front because maxzoom is data-
    dependent (tile.cpp:2883: at the last zoom, if any write pass still
    ratcheted a drop parameter, maxzoom++).  So the driver walks the
    pyramid level by level — exactly build_tiles_local's loop — with
    each level's fan-out a narrow mapInPandas and each level's two
    encode passes the same streaming sorted-iterator machinery as the
    fixed-zoom path.  still_dropping is the OR of pass-0 rows (collected
    with the ratchet stats) and pass-1 tiles (a Spark accumulator:
    retries can only re-OR, which is idempotent).

    geometry_scale is frozen at the pre-extension maxzoom
    (main.cpp:3123), matching build_tiles_local."""
    import copy as _copy

    from pyspark.sql import functions as F

    cfg = _copy.deepcopy(cfg_in)
    cfg.geometry_scale_override = cfg.geometry_scale
    n_shards = max(par * 2, 8)
    cols = [c.split()[0] for c in FEATURE_SCHEMA_DDL.split(", ")]

    tile_dfs = []
    cur = df
    z = 0
    while z <= cfg.maxzoom:
        # freeze this zoom's view of cfg: detail_at / gates read maxzoom,
        # and the local runner processes zoom z BEFORE any extension
        zoom_cfg = _copy.deepcopy(cfg)
        still = False
        if z >= cfg.minzoom:
            sub = _sorted_for_encode(
                cur.withColumn("_z", F.lit(int(z)).cast("int")), n_shards)
            # one sort shuffle shared by both passes
            sub = sub.localCheckpoint(eager=False)
            params = {z: _zoom_params_init(z, zoom_cfg)}
            if zoom_cfg.any_as_needed:
                # pass-0 discovery runs only for the additional[]
                # as-needed flags (tile.cpp:2780-2782); P_DYNAMIC_DROP
                # stays single-pass with a tile-local fraction
                still = _merge_pass0_rows(params, sub.mapInPandas(
                    _make_stream_pass0(zoom_cfg, _copy.deepcopy(params)),
                    schema=_PASS0_SCHEMA_DDL).collect())
            acc = spark.sparkContext.accumulator(0)
            tiles_z = sub.mapInPandas(
                _make_stream_encoder(zoom_cfg, False, pass_params=params,
                                     still_acc=acc),
                schema=TILES_SCHEMA_DDL)
            # the extend decision needs pass-1 to have RUN: materialize
            # this zoom's tiles now (also what makes the accumulator
            # final)
            tiles_z = tiles_z.localCheckpoint(eager=True)
            tile_dfs.append(tiles_z)
            still = still or acc.value > 0
        if z == cfg.maxzoom and still and cfg.maxzoom < 24:
            cfg.maxzoom += 1
        if z < cfg.maxzoom:
            def _fan(it, _z=z, _cfg=zoom_cfg):
                from .operators.tiler import fanout_pdf as _fp

                for pdf in it:
                    out = _fp(pdf, _z, _cfg)
                    yield out[cols]

            cur = cur.mapInPandas(_fan, schema=FEATURE_SCHEMA_DDL)
            # cut the per-level lineage so the DAG stays flat across up
            # to 25 levels (materialized lazily by the next zoom's
            # pass-0 action)
            cur = cur.localCheckpoint(eager=False)
        z += 1

    out = tile_dfs[0]
    for t in tile_dfs[1:]:
        out = out.unionByName(t)
    return out


_PASS0_SCHEMA_DDL = ("z int, gamma_out double, mingap string, minextent long, "
                     "fraction double, still_dropping boolean")


def _encode_stage(allz, cfg: TileConfig, prefilter: bool, par: int):
    """Encode over the cascaded (feature, _z) rows: one hash-sharded
    sort (``_sorted_for_encode``) feeding the streaming encoder.

    Plain modes run that as one stage.  The as-needed modes need two
    passes per zoom with a zoom-global ratchet merged on the driver
    between them (traverse_zooms, tile.cpp:2778-2880), and every zoom
    shares one job shape:

      sort rows with _z >= minzoom ─ localCheckpoint
        ├─ pass 0: one mapInPandas over all zooms → one ratchet row
        │          per (partition, z) → collect → {z: params}
        └─ pass 1: one mapInPandas over all zooms, each tile encoded
                   with its own zoom's params

    A zoom's pass 0 starts from ``_zoom_params_init`` alone (no carry-
    over from the zoom above), so discovering all zooms at once is the
    per-zoom protocol exactly.  A hot z0-z4 tile group never
    materializes as one pandas frame: runs crossing batch boundaries
    stream through the disk-spilling spool."""
    # one reduce task per core wave is enough — the spool absorbs
    # hot-group skew, and 8x-overpartitioning costs more in task/Arrow
    # setup than it buys in balance (measured)
    n_parts = max(par * 2, 8)
    if not cfg.any_as_needed:
        return _sorted_for_encode(allz, n_parts).mapInPandas(
            _make_stream_encoder(cfg, prefilter), schema=TILES_SCHEMA_DDL)

    if cfg.extend_zooms:
        raise NotImplementedError("--extend-zooms on the Spark path: use build_tiles_local")
    from pyspark.sql import functions as F

    # localCheckpoint (not persist): the sorted partitions materialize
    # on the pass-0 action, pass 1 reads them back, and the context
    # cleaner reclaims them once the returned DataFrame is dropped — no
    # cache leak across repeated builds in one session
    srt = _sorted_for_encode(allz.filter(F.col("_z") >= cfg.minzoom),
                             n_parts).localCheckpoint(eager=False)
    params = {z: _zoom_params_init(z, cfg)
              for z in range(cfg.minzoom, cfg.maxzoom + 1)}
    _merge_pass0_rows(params, srt.mapInPandas(
        _make_stream_pass0(cfg, {z: dict(p) for z, p in params.items()}),
        schema=_PASS0_SCHEMA_DDL).collect())
    return srt.mapInPandas(_make_stream_encoder(cfg, False, pass_params=params),
                           schema=TILES_SCHEMA_DDL)
