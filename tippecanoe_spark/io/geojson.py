"""GeoJSON → feature records, reproducing the reference import path.

Covers:
- parse_geometry nesting rules (/root/reference/read_json.cpp:44-105):
  MultiPolygon polygons separated by CLOSEPATH, rings led by MOVETO.
- property stringification (read_json.cpp:132-185): numbers keep their
  source text when integral (is_integer on raw text), otherwise Grisu2
  dtoa; nested arrays/objects canonicalized + stringified compactly;
  types from {string, double, bool, null}.
- feature ids (geojson.cpp:101-172): non-negative integers only;
  optional stringified-id conversion.
- tippecanoe extension: per-feature minzoom/maxzoom, layername
  (geojson.cpp:84-99).
- serialize_feature semantics (serial.cpp:403-704): full-resolution
  bbox, geometry snapped to geometry_scale grid, fix_polygon, clip
  boxes, extent, spatial index of bbox midpoint, include/exclude and
  type coercion.

The parser runs inside mapInPandas batches on executors; this module is
Spark-free.
"""

from __future__ import annotations

import json

import numpy as np

from ..config import TileConfig, shift_left, shift_right
from ..core import geomops as g
from ..core.dtoa import dtoa_milo
from ..core.mvt import T_BOOL, T_DOUBLE, T_NULL, T_STRING, _is_integer, _is_unsigned_integer
from ..core.projection import bbox_index, lonlat2tile

GEOM_NAMES = ["Point", "MultiPoint", "LineString", "MultiLineString", "Polygon", "MultiPolygon"]
GEOM_WITHIN = [-1, 0, 0, 2, 2, 4]
MB_GEOMETRY = [g.VT_POINT, g.VT_POINT, g.VT_LINE, g.VT_LINE, g.VT_POLYGON, g.VT_POLYGON]


def layer_name_from_path(path: str, source_index: int = 0) -> str:
    """Layer naming from the input filename (main.cpp:1255-1298):
    basename, repeatedly strip known suffixes, keep only [A-Za-z0-9_]
    and high-bit (UTF-8 continuation) bytes; fall back to
    "unknown{index}" when empty or invalid UTF-8."""
    import os

    trunc = os.path.basename(path.rstrip("/"))
    again = True
    while again:
        again = False
        for suf in (".json", ".geojson", ".geobuf", ".mbtiles", ".csv", ".gz"):
            if len(trunc) > len(suf) and trunc.endswith(suf):
                trunc = trunc[: -len(suf)]
                again = True
    raw = trunc.encode("utf-8")
    keep = bytes(b for b in raw if (chr(b).isalnum() and b < 128) or b == ord("_") or b >= 0x80)
    try:
        out = keep.decode("utf-8")
    except UnicodeDecodeError:
        return f"unknown{source_index}"
    if not out:
        return f"unknown{source_index}"
    return out


def read_file_text(path: str) -> str:
    """Engine read path with transparent gzip: the reference sniffs and
    inflates compressed inputs regardless of suffix (main.cpp:486-561);
    here the 2-byte gzip magic selects the codec.  (On the Spark side,
    spark.read.text handles .gz via Hadoop codecs; this is the local /
    per-file path.)"""
    with open(path, "rb") as f:
        data = f.read()
    if data[:2] == b"\x1f\x8b":
        import gzip

        data = gzip.decompress(data)
    return data.decode("utf-8")


def feature_records_path(path: str, cfg: TileConfig, layer: str | None = None,
                         seq_start: int = 0):
    """feature_records over a file path (gzip-transparent), layer named
    from the filename like the reference (main.cpp:1255-1298)."""
    if layer is None:
        layer = layer_name_from_path(path)
    return feature_records(read_file_text(path), layer, cfg, seq_start)


def features_from_file(path: str, cfg: TileConfig, layer: str | None = None,
                       seq_start: int = 0):
    """Format-dispatched file import (main.cpp:486-561 decides by
    content/extension): .csv -> GeoCSV, .geobuf/.pbf -> geobuf, else
    GeoJSON; gzip sniffed transparently for the text formats."""
    lname = layer if layer is not None else layer_name_from_path(path)
    base = path[:-3] if path.endswith(".gz") else path
    if base.endswith(".csv"):
        from .geocsv import geocsv_features

        return geocsv_features(read_file_text(path), lname, cfg,
                               empty_csv_columns_null=cfg.empty_csv_columns_null,
                               seq_start=seq_start)
    if base.endswith(".geobuf") or base.endswith(".pbf"):
        import gzip as _gzip

        from .geobuf import geobuf_features

        raw = open(path, "rb").read()
        if raw[:2] == b"\x1f\x8b":
            raw = _gzip.decompress(raw)
        return geobuf_features(raw, lname, cfg, seq_start=seq_start)
    return feature_records(read_file_text(path), lname, cfg, seq_start)


class _BBoxParam:
    """Accumulator algebra for a (minx, miny, maxx, maxy) world-coord
    box: elementwise min/max, None = no feature yet.  Idempotent, so a
    retried task or a recomputed cache block cannot change the value."""

    def zero(self, value):
        return None

    def addInPlace(self, a, b):
        if a is None or b is None:
            return b if a is None else a
        return (min(a[0], b[0]), min(a[1], b[1]),
                max(a[2], b[2]), max(a[3], b[3]))


def file_bbox_accumulator(spark):
    """Accumulator for ``geojson_files_df(..., bbox_acc=...)``: after an
    action has scanned the parse, ``.value`` is the import-time bbox of
    every input file (main.cpp:455-470), or None when no feature was
    read."""
    return spark.sparkContext.accumulator(None, _BBoxParam())


def geojson_files_df(spark, paths, cfg: TileConfig,
                     layer: str | dict | None = None, bbox_acc=None):
    """Distributed feature-file source: one task per input file, the
    reference's multi-source layout (main.cpp:1255-1298 names one layer
    per file; within-file parallel parsing is an optimization the
    cascade's later repartition makes unnecessary here).  Format is
    dispatched per file (features_from_file); gzip is sniffed.  `layer`
    may be a single name for every file, a {path: name} mapping
    (--named-layer), or None for filename-derived names.

    seq is (file_index << 40) + in-file sequence: only the RELATIVE seq
    order is observable (fmz rank tie-breaks, --preserve-input-order
    sorting), so the per-file offset preserves global input order
    without a cross-file count pass — the property a 1000-file 100 TB
    ingest needs, since a sequential prefix-count over files would
    serialize the read.

    ``bbox_acc`` (``file_bbox_accumulator``) collects the files' bbox
    from the same parse, so the metadata needs no second read.

    Returns a DataFrame in the cascade schema (pipeline.build_tiles
    input)."""
    import pandas as pd

    from pyspark.sql import functions as F

    files = spark.createDataFrame(
        pd.DataFrame({"path": list(paths), "fidx": range(len(paths))}))
    files = files.repartition(max(len(paths), 1), "path")

    def parse(it):
        from ..pipeline import features_to_pdf

        for b in it:
            for r in b.itertuples(index=False):
                lname = layer.get(r.path) if isinstance(layer, dict) else layer
                feats = features_from_file(r.path, cfg, lname,
                                           seq_start=int(r.fidx) << 40)
                if feats:
                    if bbox_acc is not None:
                        bbox_acc.add((min(f["bbox_minx"] for f in feats),
                                      min(f["bbox_miny"] for f in feats),
                                      max(f["bbox_maxx"] for f in feats),
                                      max(f["bbox_maxy"] for f in feats)))
                    yield features_to_pdf(feats)

    from ..pipeline import FEATURE_SCHEMA_DDL

    return files.mapInPandas(parse, schema=FEATURE_SCHEMA_DDL)


class RawNumber(str):
    """JSON number with its source text preserved (jsonpull keeps both
    the text and the parsed double; we subclass str for the text and
    lazily parse the double)."""

    @property
    def number(self) -> float:
        return float(self)


def _parse_json(text: str):
    return json.loads(text, parse_float=RawNumber, parse_int=RawNumber)


def stringify_number(raw: RawNumber) -> str:
    """read_json.cpp:162-172: keep source text via std::to_string when the
    text is integral, else Grisu2 of the parsed double."""
    v = _is_integer(raw)
    if v is not None:
        return str(v)
    uv = _is_unsigned_integer(raw)
    if uv is not None:
        return str(uv)
    return dtoa_milo(raw.number)


class _CanonNumber(str):
    """Canonicalized number text — emitted unquoted by the stringifier."""


def _canonicalize(value):
    """canonicalize() (read_json.cpp:106-130) — rewrite numbers in nested
    values, then stringify compactly (jsonpull json_stringify format:
    ',' / ':' separators, minimal escaping)."""
    if isinstance(value, RawNumber):
        return _CanonNumber(stringify_number(value))
    if isinstance(value, dict):
        return {k: _canonicalize(v) for k, v in value.items()}
    if isinstance(value, list):
        return [_canonicalize(v) for v in value]
    return value


def _stringify_compact(value) -> str:
    if isinstance(value, _CanonNumber):
        return str(value)
    if isinstance(value, str):
        out = ['"']
        for c in value:
            if c in ('\\', '"'):
                out.append('\\' + c)
            elif c < ' ':
                out.append('\\u%04x' % ord(c))
            else:
                out.append(c)
        out.append('"')
        return "".join(out)
    if value is None:
        return "null"
    if value is True:
        return "true"
    if value is False:
        return "false"
    if isinstance(value, dict):
        return "{" + ",".join(_stringify_compact(k) + ":" + _stringify_compact(v) for k, v in value.items()) + "}"
    if isinstance(value, list):
        return "[" + ",".join(_stringify_compact(v) for v in value) + "]"
    return str(value)  # canonicalized number (already a plain str)


def stringify_value(value):
    """read_json.cpp:132-185 → (type, stringified)."""
    if isinstance(value, RawNumber):
        return T_DOUBLE, stringify_number(value)
    if isinstance(value, str):
        return T_STRING, value
    if value is True:
        return T_BOOL, "true"
    if value is False:
        return T_BOOL, "false"
    if value is None:
        return T_NULL, "null"
    # nested object/array -> canonicalized JSON text, typed string
    return T_STRING, _stringify_compact(_canonicalize(value))


def _lenient_objects(text: str, loads=None):
    """Extract balanced JSON objects from a possibly-truncated stream,
    outermost-first, skipping objects nested inside an already-extracted
    one.  Mirrors jsonpull's behavior of processing each object the
    moment it completes (the enclosing unterminated object never
    completes, so only inner complete objects are seen).  ``loads``
    overrides the parser (io.jsontool passes its order-preserving
    hooks)."""
    if loads is None:
        loads = _parse_json
    spans = []
    stack = []
    in_str = False
    esc = False
    for i, c in enumerate(text):
        if in_str:
            if esc:
                esc = False
            elif c == "\\":
                esc = True
            elif c == '"':
                in_str = False
            continue
        if c == '"':
            in_str = True
        elif c == "{":
            stack.append(i)
        elif c == "}":
            if stack:
                start = stack.pop()
                spans.append((start, i + 1, len(stack)))
    # keep outermost completed spans (those not nested in another
    # completed span)
    spans.sort()
    out = []
    last_end = -1
    for start, end, _depth in spans:
        if start >= last_end:
            try:
                out.append(loads(text[start:end]))
                last_end = end
            except (json.JSONDecodeError, ValueError):
                continue
    return out


def parse_geometry(gtype: int, coords, out: list, op: int = g.OP_MOVETO) -> None:
    """read_json.cpp:44-105.  Appends (op, lon, lat) tuples; projection
    happens in bulk afterwards (same result, vectorized)."""
    if not isinstance(coords, list):
        return
    within = GEOM_WITHIN[gtype]
    if within >= 0:
        for i, sub in enumerate(coords):
            if within == 0:  # GEOM_POINT
                if i == 0 or MB_GEOMETRY[gtype] == g.VT_POINT:
                    op = g.OP_MOVETO
                else:
                    op = g.OP_LINETO
            parse_geometry(within, sub, out, op)
    else:
        if len(coords) >= 2 and isinstance(coords[0], (RawNumber, int, float)) and isinstance(coords[1], (RawNumber, int, float)):
            out.append((op, float(coords[0]), float(coords[1])))
    if gtype == 4:  # GEOM_POLYGON: separator between MultiPolygon members
        out.append((g.OP_CLOSEPATH, 0.0, 0.0))


def coerce_value(key: str, vtype: int, sval: str, attribute_types: dict):
    """-T coercion (serial.cpp:706-740)."""
    want = attribute_types.get(key)
    if want is None:
        return vtype, sval
    if want == "string":
        return T_STRING, sval
    if want == "float":
        return T_DOUBLE, dtoa_milo(_c_atof(sval))
    if want == "int":
        if sval == "":
            return T_DOUBLE, "0"
        if any(c < "0" or c > "9" for c in sval):
            # std::to_string(round(atof(val))) — fixed 6 decimals
            return T_DOUBLE, "%.6f" % _c_round(_c_atof(sval))
        return T_DOUBLE, sval
    if want == "bool":
        if sval in ("false", "0", "null", "") or (vtype == T_DOUBLE and _c_atof(sval) == 0.0):
            return T_BOOL, "false"
        return T_BOOL, "true"
    return vtype, sval


def _c_atof(s: str) -> float:
    import re

    m = re.match(r"\s*[+-]?(\d+\.?\d*([eE][+-]?\d+)?|\.\d+([eE][+-]?\d+)?|inf(inity)?|nan)", s, re.I)
    return float(m.group(0)) if m else 0.0


def _c_round(v: float) -> float:
    """C round(): ties away from zero (Python round is banker's)."""
    import math as _m

    return _m.floor(v + 0.5) if v >= 0 else _m.ceil(v - 0.5)


def parse_feature_id(idval, convert_stringified: bool):
    """geojson.cpp:101-172 — returns (has_id, id) keeping only
    non-negative integer ids."""
    if idval is None:
        return False, 0
    if isinstance(idval, RawNumber):
        v = _is_unsigned_integer(idval)
        if v is not None and v < (1 << 64):
            text = str(idval)
            # reference requires round-trip via to_string(strtoull)
            if text.lstrip().lstrip("+") == str(v) or float(idval) == v:
                return True, v
        return False, 0
    if convert_stringified and isinstance(idval, str):
        try:
            raw = RawNumber(idval)
            v = _is_unsigned_integer(raw)
            if v is not None and float(raw) == v:
                return True, v
        except ValueError:
            pass
    return False, 0


def feature_records(text: str, layer: str, cfg: TileConfig, seq_start: int = 0):
    """Parse a GeoJSON text (Feature / FeatureCollection / bare geometry /
    newline-delimited features) into importable feature dicts.

    Returns list of dicts with keys: layer, seq, t, has_id, id,
    tp_minzoom, tp_maxzoom, keys, vtypes, values, ops, xs, ys (projected,
    full-resolution z32 ints, pre-snapping).
    """
    objs = []
    stripped = text.strip()
    try:
        j = _parse_json(stripped)
        objs.append(j)
    except json.JSONDecodeError:
        try:
            for line in stripped.replace("\x1e", "\n").splitlines():
                line = line.strip().rstrip(",")
                if not line:
                    continue
                objs.append(_parse_json(line))
        except json.JSONDecodeError:
            # jsonpull-style recovery: emit every balanced object that
            # completes, even inside unterminated containers
            # (tests/onefeature; geojson-loop.cpp semantics)
            objs = _lenient_objects(stripped)

    feats = []

    # jsonpull stream semantics (geojson-loop.cpp:34-190): json_read
    # surfaces EVERY object bottom-up as it completes, so Features and
    # bare geometries are recognized at ANY nesting depth, in post-order.
    # Exclusion rules evaluate the parent's keys AS PARSED SO FAR (keys
    # after the candidate in document order don't exist yet), and bare
    # geometries are only recognized until the first Feature is seen
    # (found_features gate, per input file).
    state = {"features": 0}

    def visit(node, parent_kind, parent_keys, pp_kind, pp_keys, under_props):
        if isinstance(node, list):
            for v in node:
                visit(v, "array", None, parent_kind, parent_keys, under_props)
            return
        if not isinstance(node, dict):
            return
        seen = []
        for k, v in node.items():
            visit(v, "hash", seen + [k], parent_kind, parent_keys,
                  under_props or k == "properties")
            seen.append(k)
        t = node.get("type")
        if not isinstance(t, str):
            return
        if state["features"] == 0 and t in GEOM_NAMES:
            is_geom = True
            if parent_kind == "array":
                # part of a GeometryCollection (geojson-loop.cpp:77-85)
                if pp_kind == "hash" and "geometries" in pp_keys:
                    is_geom = False
            elif parent_kind == "hash":
                # a Feature's (or sibling of a) geometry member
                if "geometry" in parent_keys:
                    is_geom = False
            if is_geom and under_props:
                is_geom = False
            if is_geom:
                feats.append(({"type": "Feature", "properties": {},
                               "geometry": node}, node))
                return
        if t != "Feature":
            return
        # found_features increments BEFORE the validity checks
        # (geojson-loop.cpp:133) — even a malformed Feature disables
        # bare-geometry recognition for the rest of the file
        state["features"] += 1
        geom = node.get("geometry")
        if geom is None or not isinstance(geom, dict):
            return
        if "properties" not in node:
            return
        props = node["properties"]
        if props is not None and not isinstance(props, dict):
            return
        if under_props:
            return
        geometries = geom.get("geometries")
        if isinstance(geometries, list):
            for sub in geometries:
                feats.append((dict(node, geometry=sub), sub))
        else:
            feats.append((node, geom))

    for o in objs:
        visit(o, None, None, None, None, False)

    out = []
    seq = seq_start
    for fobj, geom in feats:
        gt = geom.get("type") if isinstance(geom, dict) else None
        if gt not in GEOM_NAMES:
            seq += 1
            continue
        gtype = GEOM_NAMES.index(gt)
        raw = []
        parse_geometry(gtype, geom.get("coordinates", []), raw)
        if not raw:
            seq += 1
            continue

        tc = fobj.get("tippecanoe", {}) or {}
        tp_minzoom = int(float(tc["minzoom"])) if "minzoom" in tc else -1
        tp_maxzoom = int(float(tc["maxzoom"])) if "maxzoom" in tc else -1
        layername = tc.get("layer", layer)

        has_id, fid = parse_feature_id(fobj.get("id"), cfg.convert_stringified_ids)

        keys, vtypes, values = [], [], []
        props = fobj.get("properties") or {}
        for k, v in props.items():
            if not isinstance(k, str):
                continue
            vt, sv = stringify_value(v)
            if vt == T_STRING:
                # fatal input validation (read_json.cpp:150-160)
                from ..core.text import check_utf8

                err = check_utf8(sv)
                if err:
                    raise ValueError(err)
            keys.append(k)
            vtypes.append(vt)
            values.append(sv)

        rec = import_feature(
            raw, MB_GEOMETRY[gtype], layername, seq, has_id, fid,
            tp_minzoom, tp_maxzoom, keys, vtypes, values, cfg,
        )
        seq += 1
        if rec is not None:
            out.append(rec)
    return out


def _winding_mode(cfg) -> int:
    """-pw / -pW → fix_polygon's winding override (geometry.cpp:931-943)."""
    if cfg.use_source_polygon_winding:
        return 1
    if cfg.reverse_source_polygon_winding:
        return -1
    return 0


def _strtoull10(s: str):
    """C strtoull(s, &err, 10): (value with ERANGE saturation and
    unsigned negation wrap, err-consumed-everything).  value is None
    when no digits converted."""
    i = 0
    while i < len(s) and s[i] in " \t\n\r\x0b\x0c":
        i += 1
    neg = False
    if i < len(s) and s[i] in "+-":
        neg = s[i] == "-"
        i += 1
    start = i
    while i < len(s) and "0" <= s[i] <= "9":
        i += 1
    if i == start:
        return None, False
    mag = int(s[start:i])
    if mag > (1 << 64) - 1:
        v = (1 << 64) - 1
    else:
        v = ((1 << 64) - mag) % (1 << 64) if neg else mag
    return v, i == len(s)


def import_feature(raw_pts, t, layer, seq, has_id, fid, tp_minzoom, tp_maxzoom,
                   keys, vtypes, values, cfg: TileConfig):
    """serialize_feature semantics (serial.cpp:403-704) for one feature.

    raw_pts: list of (op, lon, lat).  Returns the feature record dict or
    None if clipped away / empty.
    """
    ops = np.asarray([p[0] for p in raw_pts], dtype=np.uint8)
    lons = np.asarray([p[1] for p in raw_pts], dtype=np.float64)
    lats = np.asarray([p[2] for p in raw_pts], dtype=np.float64)
    if cfg.projection == "EPSG:3857":
        from ..core.projection import epsg3857totile

        xs, ys = epsg3857totile(lons, lats, 32)
    else:
        xs, ys = lonlat2tile(lons, lats, 32)
    # CLOSEPATH placeholders don't carry coordinates
    cp = ops == g.OP_CLOSEPATH
    xs[cp] = 0
    ys[cp] = 0

    gs = cfg.geometry_scale
    pt = ~cp

    # --detect-longitude-wraparound (scale_geometry, serial.cpp:333-347):
    # walk MOVETO/LINETO vertices in order carrying a 2^32 longitude
    # offset; a >2^31 jump from the previous vertex shifts this and all
    # later vertices by one world width.  The offset cancels inside the
    # jump comparison (x - prev == raw[i] - raw[i-1]), so the scan is a
    # cumulative sum over raw diffs.
    if cfg.detect_wraparound and pt.any():
        raw = xs[pt].astype(np.int64)
        d = np.diff(raw)
        step = np.zeros(len(raw), dtype=np.int64)
        step[1:][d > (1 << 31)] = -(1 << 32)
        step[1:][d < -(1 << 31)] = 1 << 32
        xs[pt] = raw + np.cumsum(step)

    # full-resolution bbox BEFORE snapping (scale_geometry, serial.cpp:322-390)
    if pt.any():
        bbox = [int(xs[pt].min()), int(ys[pt].min()), int(xs[pt].max()), int(ys[pt].max())]
    else:
        return None

    # snap to the geometry_scale grid: SHIFT_LEFT(SHIFT_RIGHT(x)); with
    # --grid-low-zooms, round instead of floor so data that is meant to
    # be tile-aligned but off by projection rounding snaps back onto the
    # maxzoom grid (scale_geometry, serial.cpp:374-384)
    if gs > 0:
        if cfg.grid_low_zooms:
            s = float(1 << gs)
            vx = xs / s
            vy = ys / s
            xs = np.where(vx >= 0, np.floor(vx + 0.5), np.ceil(vx - 0.5)).astype(np.int64) << gs
            ys = np.where(vy >= 0, np.floor(vy + 0.5), np.ceil(vy - 0.5)).astype(np.int64) << gs
        else:
            C = 4 << 32
            xs = (((xs + C) >> gs) << gs) - C
            ys = (((ys + C) >> gs) << gs) - C

    if t == g.VT_POLYGON:
        ops, xs, ys = g.fix_polygon(ops, xs, ys, winding=_winding_mode(cfg))

    for (cminx, cminy, cmaxx, cmaxy) in cfg.clip_bboxes:
        sminx, sminy = shift_left(shift_right(cminx, gs), gs), shift_left(shift_right(cminy, gs), gs)
        smaxx, smaxy = shift_left(shift_right(cmaxx, gs), gs), shift_left(shift_right(cmaxy, gs), gs)
        if t == g.VT_POLYGON:
            ops, xs, ys = g.simple_clip_poly(ops, xs, ys, sminx, sminy, smaxx, smaxy)
        elif t == g.VT_LINE:
            ops, xs, ys = g.clip_lines(ops, xs, ys, sminx, sminy, smaxx, smaxy)
            ops, xs, ys = g.remove_noop(ops, xs, ys, t, 0)
        else:
            ops, xs, ys = g.clip_point(ops, xs, ys, sminx, sminy, smaxx, smaxy)
        m = ops != g.OP_CLOSEPATH
        if not m.any():
            return None
        bbox = [int(xs[m].min()), int(ys[m].min()), int(xs[m].max()), int(ys[m].max())]

    if len(ops) == 0:
        return None

    if not has_id and cfg.generate_ids:
        has_id = True
        fid = seq + 1

    # extent for drop/coalesce-smallest (serial.cpp:517-548), computed on
    # geometry_scale-scaled coordinates
    extent = 0
    if cfg.drop_smallest or cfg.coalesce_smallest:
        sxs = ((xs + (4 << 32)) >> gs) - ((4 << 32) >> gs) if gs else xs
        sys_ = ((ys + (4 << 32)) >> gs) - ((4 << 32) >> gs) if gs else ys
        if t == g.VT_POLYGON:
            e = 0.0
            for i, jj in g._rings(ops):
                e += g.get_area(sxs, sys_, i, jj)
            extent = int(e) if e <= (1 << 63) - 1 else (1 << 63) - 1
        elif t == g.VT_LINE:
            e = 0.0
            for i in range(1, len(ops)):
                if ops[i] == g.OP_LINETO:
                    xd = float(sxs[i] - sxs[i - 1])
                    yd = float(sys_[i] - sys_[i - 1])
                    e += (xd * xd + yd * yd) ** 0.5
            extent = int(e) if e <= (1 << 63) - 1 else (1 << 63) - 1
        if extent < 1:
            extent = 1

    # spatial index of bbox midpoint (serial.cpp:554-560).  The index
    # RECORD always carries the real quadkey (serial.cpp:678: index.ix =
    # bbox_index) — the global sort is always spatial.  Only the
    # in-feature index (used by gap/cluster logic inside tiles) is gated
    # by cfg.uses_index; the tiler applies that gate.
    ix = int(bbox_index(bbox[0], bbox[1], bbox[2], bbox[3], cfg.use_hilbert)[()])

    # per-attribute pass (serial.cpp:590-641): coerce, then
    # --use-attribute-for-id extraction (which ERASES the attribute and
    # bypasses include/exclude), then include/exclude filtering
    fkeys, fvtypes, fvalues = [], [], []
    for k, vt, sv in zip(keys, vtypes, values):
        vt, sv = coerce_value(k, vt, sv, cfg.attribute_types)
        if k == cfg.use_attribute_for_id:
            # id must parse like strtoull + round-trip via
            # to_string(long long) == strip_zeroes(s)
            # (serial.cpp:593-627); non-double types only with -aI
            if vt == T_DOUBLE or cfg.convert_stringified_ids:
                v, consumed = _strtoull10(sv)
                if v is not None and consumed:
                    signed = v - (1 << 64) if v >= (1 << 63) else v
                    if str(signed) == sv.lstrip("0"):
                        has_id, fid = True, v
                        continue  # erased from properties
        if cfg.exclude_all:
            if k not in cfg.include:
                continue
        elif k in cfg.exclude:
            continue
        fkeys.append(k)
        fvtypes.append(vt)
        fvalues.append(sv)

    return {
        "layer": layer,
        "seq": seq,
        "t": int(t),
        "has_id": has_id,
        "id": fid,
        "tp_minzoom": tp_minzoom,
        "tp_maxzoom": tp_maxzoom,
        "keys": fkeys,
        "vtypes": fvtypes,
        "values": fvalues,
        "ops": ops.astype(np.int8),
        "xs": xs.astype(np.int64),
        "ys": ys.astype(np.int64),
        "bbox_minx": bbox[0],
        "bbox_miny": bbox[1],
        "bbox_maxx": bbox[2],
        "bbox_maxy": bbox[3],
        "ix": ix,
        "extent": extent,
    }
