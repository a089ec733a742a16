"""tippecanoe-compatible command line on Spark.

`python -m tippecanoe_spark [options] in1.json in2.json.gz ...`
accepts the reference's flag syntax (main.cpp option table) for every
option the engine supports, so a reference user can switch binaries
without rewriting their invocations:

    python -m tippecanoe_spark -o out.mbtiles -z9 \
        --drop-densest-as-needed roads.json buildings.json.gz

Subcommands:
    (default)  build a tileset (tippecanoe)
    decode     tippecanoe-decode drop-in: same flags, byte-identical
               output (incl. -c pipeline, -S stats, single-tile modes)
    join       tile-join: CSV attribute join / tileset merge
    enumerate  tippecanoe-enumerate drop-in (tile listing)
    json-tool  tippecanoe-json-tool drop-in: canonical feature
               re-stringify, --wrap/--extract, sorted CSV merge join

Execution: the default path is the distributed Spark pipeline
(io.geojson.geojson_files_df -> pipeline.build_tiles) on
local[*] unless --spark-master says otherwise; --local-runner uses the
single-process cascade (pipeline.build_tiles_local); -zg/-Bg/-rg
guessing runs distributed (operators/guess.resolve_guesses_spark).
"""

from __future__ import annotations

import os
import shlex
import sys


def _numarg(v: str, dot: bool = False) -> bool:
    """True when v is a numeric attached optarg — getopt attaches the
    rest of the token verbatim, so negatives like "-d-4" are valid and
    must parse like the separate-token spelling "-d -4"."""
    import re as _re

    # the dot grammar is atof's: "5", "5.5", "5.", ".5" (a bare
    # leading/trailing dot is valid — "-r.5" means 0.5)
    pat = r"-?(\d+\.?\d*|\.\d+)" if dot else r"-?\d+"
    return bool(_re.fullmatch(pat, v))


def options_to_config(options, maxzoom_default: int = 14):
    """Map tippecanoe CLI options to TileConfig.  `options` is a string
    (shlex-split) or a pre-split token list.  Unknown options raise
    ValueError naming the option, like the reference's getopt loop."""
    from .config import TileConfig

    cfg = TileConfig(maxzoom=maxzoom_default)
    explicit_basezoom = False
    toks = shlex.split(options) if isinstance(options, str) else list(options)
    # getopt_long surface: --opt=value splits, and the long spellings of
    # the single-letter value options (main.cpp:2495-2630) normalize to
    # their short forms with the value attached (so --maximum-zoom=g
    # becomes -zg etc.); --prevent/--additional take a letter string
    value_alias = {
        "--maximum-zoom": "-z", "--minimum-zoom": "-Z", "--base-zoom": "-B",
        "--drop-rate": "-r", "--gamma": "-g", "--buffer": "-b",
        "--full-detail": "-d", "--low-detail": "-D",
        "--maximum-tile-bytes": "-M", "--maximum-tile-features": "-O",
        "--cluster-distance": "-K", "--simplification": "-S",
    }
    norm = []
    skip = False
    for j, t in enumerate(toks):
        if skip:
            skip = False
            continue
        base, eq, val = t.partition("=") if t.startswith("--") else (t, "", "")
        if base in ("--prevent", "--additional"):
            if not eq and j + 1 >= len(toks):
                raise ValueError(f"option {base} requires an argument")
            letters = val if eq else toks[j + 1]
            skip = not eq
            norm.append(("-p" if base == "--prevent" else "-a") + letters)
            continue
        if base in value_alias:
            if not eq and j + 1 >= len(toks):
                raise ValueError(f"option {base} requires an argument")
            v = val if eq else toks[j + 1]
            skip = not eq
            norm.append(value_alias[base] + v)
            continue
        if eq:
            norm.extend([base, val])
            continue
        norm.append(t)
    toks = norm
    i = 0
    long_flags = {
        "--drop-densest-as-needed": "drop_densest",
        "--drop-smallest-as-needed": "drop_smallest",
        "--drop-fraction-as-needed": "drop_fraction",
        "--coalesce-densest-as-needed": "coalesce_densest",
        "--coalesce-smallest-as-needed": "coalesce_smallest",
        "--coalesce-fraction-as-needed": "coalesce_fraction",
        "--cluster-densest-as-needed": "cluster_densest",
        "--increase-gamma-as-needed": "increase_gamma",
        "--drop-lines": "drop_lines",
        "--drop-polygons": "drop_polygons",
        "--calculate-feature-density": "calculate_feature_density",
        "--detect-shared-borders": "detect_shared_borders",
        "--extend-zooms-if-still-dropping": "extend_zooms",
        "--grid-low-zooms": "grid_low_zooms",
        "--detect-longitude-wraparound": "detect_wraparound",
        "--generate-ids": "generate_ids",
        "--convert-stringified-ids-to-numbers": "convert_stringified_ids",
        "--no-tiny-polygon-reduction": "no_tiny_polygon_reduction",
        "--no-line-simplification": "no_simplification",
        "--no-feature-limit": "no_feature_limit",
        "--no-tile-size-limit": "no_tile_size_limit",
        "--no-tile-compression": "no_tile_compression",
        "--no-clipping": "no_clipping",
        "--no-duplication": "no_duplication",
        "--preserve-input-order": "no_input_order",
        "--reorder": "reorder",
        "--reverse": "reverse",
        "--coalesce": "coalesce",
        "--hilbert": "use_hilbert",
        "--use-source-polygon-winding": "use_source_polygon_winding",
        "--reverse-source-polygon-winding": "reverse_source_polygon_winding",
        "--no-simplification-of-shared-nodes": "no_shared_nodes",
        "--simplify-only-low-zooms": "no_simplification_low",
        # accepted no-ops, mirroring the reference: P_POLYGON_SPLIT has
        # no reader outside main.cpp (dead flag), prefer-radix-sort is a
        # sort-strategy hint (Spark shuffles sort), check-polygons only
        # prints stderr diagnostics (tile bytes unchanged)
        "--no-polygon-splitting": None,
        "--prefer-radix-sort": None,
        "--check-polygons": None,
    }
    # single-letter -p / -a spellings (options.hpp P_* / A_* tables);
    # None = accepted no-op (engine-internal in the reference), absent
    # letter = unsupported (error, like the reference's getopt loop)
    p_letters = {
        "s": "no_simplification", "S": "no_simplification_low",
        "f": "no_feature_limit", "k": "no_tile_size_limit",
        "d": "prevent_dynamic_drop", "i": "no_input_order",
        "c": "no_clipping", "D": "no_duplication",
        "t": "no_tiny_polygon_reduction", "C": "no_tile_compression",
        "w": "use_source_polygon_winding",
        "W": "reverse_source_polygon_winding",
        "e": "empty_csv_columns_null",
        "g": "no_tilestats",
        "n": "no_shared_nodes",
        "p": None,  # P_POLYGON_SPLIT: dead flag in the reference
    }
    a_letters = {
        "c": "coalesce", "r": "reverse", "o": "reorder",
        "l": "drop_lines", "p": "drop_polygons",
        "b": "detect_shared_borders", "g": "calculate_feature_density",
        "G": "increase_gamma", "s": "drop_densest", "d": "drop_fraction",
        "n": "drop_smallest", "S": "coalesce_densest",
        "N": "coalesce_smallest", "D": "coalesce_fraction",
        "L": "grid_low_zooms", "w": "detect_wraparound",
        "e": "extend_zooms", "C": "cluster_densest",
        "i": "generate_ids", "I": "convert_stringified_ids",
        "h": "use_hilbert",
        "R": None,  # prefer-radix-sort: Spark shuffles sort; no-op
    }
    while i < len(toks):
        t = toks[i]
        if t.startswith("-p") and len(t) > 2 and not t.startswith("--"):
            for ch in t[2:]:
                if ch not in p_letters:
                    raise ValueError(f"unsupported option: -p{ch}")
                if p_letters[ch]:
                    setattr(cfg, p_letters[ch], True)
            i += 1
            continue
        if t.startswith("-a") and len(t) > 2 and not t.startswith("--"):
            for ch in t[2:]:
                if ch not in a_letters:
                    raise ValueError(f"unsupported option: -a{ch}")
                if a_letters[ch]:
                    setattr(cfg, a_letters[ch], True)
            i += 1
            continue
        if t == "-zg":
            cfg.maxzoom = 24
            cfg.guess_maxzoom_flag = True
            i += 1
            continue
        if t == "-Bg":
            cfg.basezoom = -2
            explicit_basezoom = True
            i += 1
            continue
        if t == "-rg":
            cfg.droprate = -2.0
            i += 1
            continue
        # -Bg<w>/-Bf<n> and -rg<w>/-rf<n>: guess basezoom/droprate with
        # an explicit marker width (f<n> = sqrt(50000/n) feature-count
        # form; main.cpp:2767-2790, 2877-2894)
        if t[:3] in ("-Bg", "-Bf", "-rg", "-rf") and len(t) > 3:
            import math as _math

            v = float(t[3:])
            if v <= 0:
                raise ValueError(f"Must specify value >0 with {t[:3]}")
            cfg.basezoom_marker_width = v if t[2] == "g" \
                else _math.sqrt(50000 / v)
            if t[1] == "B":
                cfg.basezoom = -2
                explicit_basezoom = True
            else:
                cfg.droprate = -2.0
            i += 1
            continue
        if t == "-z" or t.startswith("-z") and _numarg(t[2:]):
            cfg.maxzoom = int(toks[i + 1]) if t == "-z" else int(t[2:])
            i += 2 if t == "-z" else 1
            continue
        if t == "-Z" or (t.startswith("-Z") and _numarg(t[2:])):
            cfg.minzoom = int(toks[i + 1]) if t == "-Z" else int(t[2:])
            i += 2 if t == "-Z" else 1
            continue
        if t == "-B" or (t.startswith("-B") and _numarg(t[2:], dot=True)):
            cfg.basezoom = int(float(toks[i + 1])) if t == "-B" else int(float(t[2:]))
            explicit_basezoom = True
            i += 2 if t == "-B" else 1
            continue
        if t == "-r" or (t.startswith("-r") and _numarg(t[2:], dot=True)):
            cfg.droprate = float(toks[i + 1]) if t == "-r" else float(t[2:])
            i += 2 if t == "-r" else 1
            continue
        if t == "-g" or (t.startswith("-g") and _numarg(t[2:], dot=True)):
            cfg.gamma = float(toks[i + 1]) if t == "-g" else float(t[2:])
            i += 2 if t == "-g" else 1
            continue
        if t == "-b" or (t.startswith("-b") and _numarg(t[2:])):
            cfg.buffer = int(toks[i + 1]) if t == "-b" else int(t[2:])
            i += 2 if t == "-b" else 1
            continue
        if t == "-d" or (t.startswith("-d") and _numarg(t[2:])):
            cfg.full_detail = int(toks[i + 1]) if t == "-d" else int(t[2:])
            i += 2 if t == "-d" else 1
            continue
        if t == "-D" or (t.startswith("-D") and _numarg(t[2:])):
            cfg.low_detail = int(toks[i + 1]) if t == "-D" else int(t[2:])
            i += 2 if t == "-D" else 1
            continue
        if t == "-M" or (t.startswith("-M") and _numarg(t[2:])):
            cfg.max_tile_size = int(toks[i + 1]) if t == "-M" else int(t[2:])
            i += 2 if t == "-M" else 1
            continue
        if t == "-O" or (t.startswith("-O") and _numarg(t[2:])):
            cfg.max_tile_features = int(toks[i + 1]) if t == "-O" else int(t[2:])
            i += 2 if t == "-O" else 1
            continue
        if t == "-K" or (t.startswith("-K") and _numarg(t[2:])):
            cfg.cluster_distance = int(toks[i + 1]) if t == "-K" else int(t[2:])
            i += 2 if t == "-K" else 1
            continue
        if t == "-S" or (t.startswith("-S") and _numarg(t[2:], dot=True)):
            cfg.simplification = float(toks[i + 1]) if t == "-S" else float(t[2:])
            i += 2 if t == "-S" else 1
            continue
        if t == "-E" or t == "--accumulate-attribute" \
                or (t.startswith("-E") and len(t) > 2):
            name, op = (t[2:] if len(t) > 2 and t != "--accumulate-attribute"
                        else toks[i + 1]).split(":")
            cfg.accumulate[name] = op
            i += 1 if (t.startswith("-E") and len(t) > 2) else 2
            continue
        if t == "-x" or t == "--exclude" \
                or (t.startswith("-x") and len(t) > 2 and not t.startswith("--")):
            cfg.exclude.add(t[2:] if t.startswith("-x") and len(t) > 2
                            else toks[i + 1])
            i += 1 if (t.startswith("-x") and len(t) > 2) else 2
            continue
        if t == "-y" or t == "--include" or (t.startswith("-y") and len(t) > 2):
            cfg.exclude_all = True
            cfg.include.add(toks[i + 1] if t in ("-y", "--include") else t[2:])
            i += 2 if t in ("-y", "--include") else 1
            continue
        if t == "-X" or t == "--exclude-all":
            cfg.exclude_all = True
            i += 1
            continue
        if t == "--clip-bounding-box":
            from .core.projection import lonlat2tile

            lon1, lat1, lon2, lat2 = (float(v) for v in toks[i + 1].split(","))
            # main.cpp:3060-3064: (lon1,lat1)->(minx,maxy), (lon2,lat2)->(maxx,miny)
            minx, maxy = lonlat2tile([lon1], [lat1], 32)
            maxx, miny = lonlat2tile([lon2], [lat2], 32)
            cfg.clip_bboxes.append((int(minx[0]), int(miny[0]),
                                    int(maxx[0]), int(maxy[0])))
            i += 2
            continue
        if t == "-s" or t == "--projection" or t.startswith("-sEPSG"):
            cfg.projection = toks[i + 1] if t in ("-s", "--projection") else t[2:]
            i += 2 if t in ("-s", "--projection") else 1
            continue
        if t == "-C" or t == "--prefilter":
            cfg.prefilter = toks[i + 1]
            i += 2
            continue
        if t == "-c" or t == "--postfilter":
            cfg.postfilter = toks[i + 1]
            i += 2
            continue
        if t == "-j" or t == "--feature-filter":
            import json as _json

            cfg.feature_filter = _json.loads(toks[i + 1])
            i += 2
            continue
        if t == "-J" or t == "--feature-filter-file":
            import json as _json

            cfg.feature_filter = _json.loads(open(toks[i + 1]).read())
            i += 2
            continue
        if t == "-T" or t == "--attribute-type":
            name, ty = toks[i + 1].split(":")
            cfg.attribute_types[name] = ty
            i += 2
            continue
        if t == "-m" or t == "--minimum-detail" \
                or (t.startswith("-m") and _numarg(t[2:])):
            cfg.min_detail = int(t[2:]) if (t.startswith("-m") and len(t) > 2
                                            and t != "--minimum-detail") \
                else int(toks[i + 1])
            i += 1 if (t.startswith("-m") and len(t) > 2
                       and t != "--minimum-detail") else 2
            continue
        if t == "--use-attribute-for-id":
            cfg.use_attribute_for_id = toks[i + 1]
            i += 2
            continue
        if t == "-R" or t == "--one-tile" \
                or (t.startswith("-R") and len(t) > 2 and "/" in t):
            attached = t.startswith("-R") and len(t) > 2
            zs, xs_, ys_ = (t[2:] if attached else toks[i + 1]).split("/")
            cfg.minzoom = cfg.maxzoom = int(zs)  # main.cpp:2752-2758
            cfg.one_tile = (int(xs_), int(ys_))
            i += 1 if attached else 2
            continue
        if t == "-Y" or t == "--attribute-description" \
                or (t.startswith("-Y") and len(t) > 2):
            attached = t.startswith("-Y") and len(t) > 2 \
                and t != "--attribute-description"
            name, desc = (t[2:] if attached else toks[i + 1]).split(":", 1)
            cfg.attribute_descriptions[name] = desc
            i += 1 if attached else 2
            continue
        if t == "-l" or t == "--layer" \
                or (t.startswith("-l") and len(t) > 2 and not t.startswith("--")):
            # engine-level in the full CLI (_split_args); accepted here
            # too so an options string parsed standalone round-trips
            cfg.layer_name = (t[2:] if t.startswith("-l") and len(t) > 2
                              else toks[i + 1])
            i += 1 if (t.startswith("-l") and len(t) > 2) else 2
            continue
        if t == "--no-tile-stats":
            cfg.no_tilestats = True
            i += 1
            continue
        if t in ("-P", "--read-parallel"):
            # read-parallel: our sharded read is seq-deterministic and
            # partition-invariant regardless (io/geojson.py:115), so the
            # flag is an accepted no-op
            i += 1
            continue
        if t in ("--tile-stats-attributes-limit",
                 "--tile-stats-sample-values-limit",
                 "--tile-stats-values-limit"):
            # the reference sets globals in mbtiles.cpp (main.cpp:2684-
            # 2689); ours live in operators.stats and propagate to the
            # Spark layermap collectors at plan build
            n = int(toks[i + 1])
            if t == "--tile-stats-attributes-limit":
                cfg.tilestats_attributes_limit = n
            elif t == "--tile-stats-sample-values-limit":
                cfg.tilestats_sample_values_limit = n
            else:
                cfg.tilestats_values_limit = n
            i += 2
            continue
        if t == "--force-feature-limit":  # long name of -pd
            cfg.prevent_dynamic_drop = True
            i += 1
            continue
        if t in long_flags:
            if long_flags[t] is not None:
                setattr(cfg, long_flags[t], True)
            i += 1
            continue
        raise ValueError(f"unsupported option: {t}")
    # "Highest supported zoom" clamps (main.cpp:3085-3110): detail-based
    # caps only without -zg; the MAX_ZOOM=24 cap unconditionally
    if cfg.full_detail <= 0:
        cfg.full_detail = 12  # main.cpp:3081-3083
    if cfg.full_detail < cfg.min_detail:
        cfg.min_detail = cfg.full_detail  # main.cpp:3085-3088
    if cfg.low_detail < cfg.min_detail:
        cfg.min_detail = cfg.low_detail
    if not cfg.guess_maxzoom_flag:
        if cfg.maxzoom > 32 - cfg.full_detail:
            cfg.maxzoom = 32 - cfg.full_detail
        if cfg.maxzoom > 33 - cfg.low_detail:
            cfg.maxzoom = 33 - cfg.low_detail
    if cfg.maxzoom > 24:
        cfg.maxzoom = 24
    if cfg.minzoom > cfg.maxzoom:
        # fatal in the reference AFTER the clamps (main.cpp:3112-3115),
        # so a detail clamp that drags maxzoom under -Z must error too
        raise ValueError(
            f"Minimum zoom -Z{cfg.minzoom} cannot be greater than "
            f"maxzoom -z{cfg.maxzoom}")
    if not explicit_basezoom:
        if cfg.guess_maxzoom_flag:
            cfg.basezoom = -1  # resolved after guessing
        else:
            cfg.basezoom = cfg.maxzoom  # -B defaults to maxzoom (main.cpp:3117)
    return cfg


_ENGINE_WITH_ARG = {"-o", "--output", "-e", "--output-to-directory",
                    "-l", "--layer", "-n", "--name", "-N", "--description",
                    "-t", "--temporary-directory", "--spark-master"}
_ENGINE_FLAGS = {"-f", "--force", "-q", "--quiet", "-P",
                 "--read-parallel", "--local-runner", "-Q",
                 "--no-progress-indicator", "-u", "-U", "-F",
                 "--allow-existing"}


def _split_args(argv):
    """Separate engine-level options from tiling options and inputs."""
    eng = {"inputs": [], "force": False, "quiet": False, "local": False,
           "output": None, "outdir": None, "layer": None, "name": None,
           "description": None, "master": None, "attribution": None,
           "named_layers": {}, "allow_existing": False,
           "layer_descriptions": {}, "formats": {}}

    def _json_source(arg):
        # -L'{"file":..., "layer":..., "description":..., "format":...}'
        # (parse_json_source, main.cpp:2407-2446); file "" = stdin
        import json as _json

        try:
            o = _json.loads(arg)
        except ValueError as e:
            raise ValueError(f"-L{arg}: {e}")
        if not isinstance(o, dict):
            raise ValueError(f"-L{arg}: not a JSON object")
        path = o.get("file")
        if not isinstance(path, str):
            raise ValueError(f'-L{arg}: requires "file": filename')
        lname = o.get("layer")
        if not isinstance(lname, str):
            # stdin with no name -> unknown<index> (main.cpp:1296-1298)
            lname = None if path else f"unknown{len(eng['inputs'])}"
        if lname is not None:
            eng["named_layers"][path] = lname
            if isinstance(o.get("description"), str):
                eng["layer_descriptions"][lname] = o["description"]
        if isinstance(o.get("format"), str):
            eng["formats"][path] = o["format"]
        eng["inputs"].append(path)

    rest = []
    i = 0
    while i < len(argv):
        t = argv[i]
        if t in ("-o", "--output"):
            eng["output"] = argv[i + 1]
            i += 2
        elif t.startswith("-o") and len(t) > 2 and not t.startswith("--"):
            eng["output"] = t[2:]
            i += 1
        elif t in ("-e", "--output-to-directory"):
            eng["outdir"] = argv[i + 1]
            i += 2
        elif t in ("-l", "--layer"):
            eng["layer"] = argv[i + 1]
            i += 2
        elif t.startswith("-l") and len(t) > 2:
            eng["layer"] = t[2:]
            i += 1
        elif t in ("-L", "--named-layer"):
            if argv[i + 1].lstrip().startswith("{"):
                _json_source(argv[i + 1])
            else:
                name, path = argv[i + 1].split(":", 1)
                eng["named_layers"][path] = name
                eng["inputs"].append(path)
            i += 2
        elif t.startswith("-L") and len(t) > 2 and t[2:].lstrip().startswith("{"):
            _json_source(t[2:])
            i += 1
        elif t.startswith("-L") and len(t) > 2 and ":" in t:
            name, path = t[2:].split(":", 1)
            eng["named_layers"][path] = name
            eng["inputs"].append(path)
            i += 1
        elif t in ("-A", "--attribution"):
            eng["attribution"] = argv[i + 1]
            i += 2
        elif t.startswith("-A") and len(t) > 2 and not t.startswith("--"):
            eng["attribution"] = t[2:]
            i += 1
        elif t in ("-n", "--name"):
            eng["name"] = argv[i + 1]
            i += 2
        elif t.startswith("-n") and len(t) > 2 and not t.startswith("--"):
            eng["name"] = t[2:]
            i += 1
        elif t in ("-N", "--description"):
            eng["description"] = argv[i + 1]
            i += 2
        elif t.startswith("-N") and len(t) > 2 and not t.startswith("--"):
            eng["description"] = t[2:]
            i += 1
        elif t == "--spark-master":
            eng["master"] = argv[i + 1]
            i += 2
        elif t in ("-t", "--temporary-directory"):
            i += 2  # accepted for compatibility; Spark manages temp space
        elif t in ("-U", "--progress-interval"):
            i += 2  # accepted for compatibility; builds run quiet
        elif t in ("-v", "--version"):
            # option-compatible with the reference (main.cpp VERSION)
            print("tippecanoe v1.36.0 (tippecanoe-spark)", file=sys.stderr)
            raise SystemExit(0)
        elif t in ("-f", "--force"):
            eng["force"] = True
            i += 1
        elif t in ("-F", "--allow-existing"):
            # forcetable (main.cpp:2912): tolerate existing output
            # tables/directory and write into them
            eng["allow_existing"] = True
            i += 1
        elif t in ("-H", "--help"):
            print(__doc__, file=sys.stderr)
            raise SystemExit(0)
        elif t in ("-q", "--quiet", "-Q", "--no-progress-indicator"):
            eng["quiet"] = True
            i += 1
        elif t == "--local-runner":
            eng["local"] = True
            i += 1
        elif t in ("-P", "--read-parallel"):
            i += 1  # always parallel on Spark
        elif not t.startswith("-"):
            eng["inputs"].append(t)
            i += 1
        else:
            rest.append(t)
            # option argument heuristics are handled by options_to_config;
            # pull the next token too when it's clearly this option's value
            takes_arg = t in ("-z", "-Z", "-B", "-r", "-g", "-b", "-d", "-D",
                              "-M", "-O", "-K", "-S", "-E", "-x", "-y", "-X",
                              "-s", "-C", "-c", "-j", "-J", "-T", "-R", "-Y",
                              "-m", "--one-tile", "--minimum-detail",
                              "--attribute-description",
                              "--use-attribute-for-id",
                              "--accumulate-attribute", "--exclude",
                              "--include", "--clip-bounding-box",
                              "--projection", "--prefilter", "--postfilter",
                              "--feature-filter", "--feature-filter-file",
                              "--attribute-type",
                              "--maximum-zoom", "--minimum-zoom",
                              "--base-zoom", "--drop-rate", "--gamma",
                              "--buffer", "--full-detail", "--low-detail",
                              "--maximum-tile-bytes",
                              "--maximum-tile-features",
                              "--cluster-distance", "--simplification",
                              "--prevent", "--additional",
                              "--tile-stats-attributes-limit",
                              "--tile-stats-sample-values-limit",
                              "--tile-stats-values-limit")
            if takes_arg and t not in ("-X",) and i + 1 < len(argv):
                rest.append(argv[i + 1])
                i += 2
            else:
                i += 1
    return eng, rest


def build_main(argv) -> int:
    eng, rest = _split_args(argv)
    cfg = options_to_config(rest)
    # the output check precedes any input read — the reference opens
    # outdb before read_input (main.cpp:3136-3183), so a missing -o
    # errors without consuming stdin
    if eng["output"] is None and eng["outdir"] is None:
        print("need -o out.mbtiles or -e out_dir", file=sys.stderr)
        return 2
    if not eng["inputs"]:
        # no sources -> read a GeoJSON stream from stdin
        # (main.cpp:3168-3172; layer falls back to unknown0)
        eng["inputs"].append("")
        if eng["layer"] is None:
            eng["layer"] = "unknown0"

    # materialize stdin sources and -L'{"format":...}' overrides as
    # real paths whose extension drives the per-file format dispatch
    # (features_from_file); symlinks keep named files zero-copy
    import tempfile as _tempfile

    _scratch = []  # stdin copies / format-symlink dirs, removed on return
    for idx, p in enumerate(list(eng["inputs"])):
        fmt = eng["formats"].get(p)
        if p == "":
            sfx = ".csv" if fmt == "csv" else ".json"
            tf = _tempfile.NamedTemporaryFile(
                "w", suffix=sfx, delete=False, prefix="stdin-")
            tf.write(sys.stdin.read())
            tf.close()
            newp = tf.name
            _scratch.append(newp)
        elif fmt == "csv" and not p.endswith(".csv"):
            d = _tempfile.mkdtemp(prefix="tippecanoe-fmt-")
            newp = os.path.join(d, os.path.basename(p) + ".csv")
            os.symlink(os.path.abspath(p), newp)
            _scratch.append(d)
        else:
            continue
        eng["inputs"][idx] = newp
        if p in eng["named_layers"]:
            eng["named_layers"][newp] = eng["named_layers"][p]

    try:
        # existing-tileset guard (mbtiles.cpp:48, dirtiles.cpp:75): without
        # -f (delete first) or -F (write into the existing tables/dir),
        # refuse rather than silently mix tilesets
        if not eng["force"] and not eng["allow_existing"]:
            exists = (eng["output"] and os.path.exists(eng["output"])) or \
                (eng["outdir"] and os.path.isdir(eng["outdir"])
                 and os.listdir(eng["outdir"]))
            if exists:
                tgt = eng["output"] or eng["outdir"]
                print(f'Tileset "{tgt}" already exists. You can use --force '
                      "if you want to delete the old tileset.", file=sys.stderr)
                return 1

        from .operators.stats import build_metadata
        from .pipeline import build_tiles_local

        # -n name, else the -o / -e path exactly as given (main.cpp:3183)
        name = eng["name"] or eng["output"] or eng["outdir"] or "out"

        # per-file layer names: --layer overrides EVERY source including the
        # --named-layer ones (main.cpp:3175-3179 rewrites sources[a].layer
        # whenever -l is given); otherwise --named-layer beats filename
        def layer_arg():
            if eng["layer"]:
                return eng["layer"]
            if eng["named_layers"]:
                return {p: eng["named_layers"].get(p) or _default_layer(p)
                        for p in eng["inputs"]}
            return None

        def _default_layer(p):
            from .io.geojson import layer_name_from_path

            return layer_name_from_path(p)

        needs_guess = (cfg.guess_maxzoom_flag or cfg.basezoom < 0
                       or cfg.droprate < 0)
        if eng["local"]:
            from .io.geojson import features_from_file

            la = layer_arg()
            feats = []
            for fi, path in enumerate(eng["inputs"]):
                lname = la.get(path) if isinstance(la, dict) else la
                feats += features_from_file(path, cfg, lname,
                                            seq_start=fi << 40)
            if needs_guess:
                from .operators.guess import resolve_guesses

                resolve_guesses(feats, cfg, cfg.guess_maxzoom_flag,
                                cfg.basezoom, cfg.droprate,
                                cfg.basezoom_marker_width)
            tiles = build_tiles_local(feats, cfg)
            meta = build_metadata(feats, tiles, cfg, name=name,
                                  description=eng["description"],
                                  layer_descriptions=eng["layer_descriptions"])
        else:
            from .io.geojson import file_bbox_accumulator, geojson_files_df
            from .operators.stats import collect_layer_stats_spark
            from .pipeline import build_tiles
            from .session import get_spark

            spark = get_spark(master=eng["master"] or "local[*]")
            la = layer_arg()
            # parse with the PRE-guess config (frozen copy): guessing
            # mutates cfg (maxzoom/basezoom/droprate) but the reference
            # imports once before guessing, so recomputation of the lazy
            # parse must keep the import-time parameters
            import copy as _copy

            parse_cfg = _copy.deepcopy(cfg)
            bbox_acc = file_bbox_accumulator(spark)
            df = geojson_files_df(spark, eng["inputs"], parse_cfg, layer=la,
                                  bbox_acc=bbox_acc)
            df = df.persist()
            try:
                if needs_guess:
                    from .operators.guess import resolve_guesses_spark

                    resolve_guesses_spark(df, cfg, cfg.guess_maxzoom_flag,
                                          cfg.basezoom, cfg.droprate,
                                          cfg.basezoom_marker_width)
                layers = collect_layer_stats_spark(df, cfg)
                # the layer-stats scan has run the parse over every file
                file_bbox = bbox_acc.value or (0, 0, 0, 0)
                tiles_df = build_tiles(spark, df, cfg)

                # streaming export: the tileset never lands on the driver as
                # a dict.  mbtiles is single-writer (one sqlite file,
                # mbtiles.cpp db_lock) so tiles stream through
                # toLocalIterator one partition at a time; dirtiles writes
                # run distributed in the executors.  Both accumulate the
                # busiest-maxzoom-tile stat for metadata on the way through.
                if eng["output"]:
                    from pyspark import StorageLevel

                    from .io.mbtiles import (write_mbtiles_metadata,
                                             write_mbtiles_stream)

                    if eng["force"] and os.path.exists(eng["output"]):
                        os.remove(eng["output"])
                    # materialize the pyramid in PARALLEL (count on a
                    # DISK_ONLY cache: the blocks are written once and
                    # streamed back per partition — a memory-backed level
                    # would try to re-heap whole evicted blocks during the
                    # iterator scan, capping the tileset at executor
                    # memory), then stream the cached partitions to the
                    # single sqlite writer one at a time — toLocalIterator
                    # alone would run the encode jobs serially per
                    # partition
                    tiles_df = tiles_df.persist(StorageLevel.DISK_ONLY)
                    try:
                        tiles_df.count()
                        n_tiles, busiest = write_mbtiles_stream(
                            eng["output"],
                            ((r["z"], r["x"], r["y"], r["tile"], r["gops"])
                             for r in tiles_df.toLocalIterator()),
                            maxzoom=cfg.maxzoom)
                    finally:
                        tiles_df.unpersist()
                else:
                    from .io.dirtiles import write_dirtiles_spark

                    n_tiles, busiest = write_dirtiles_spark(
                        tiles_df, eng["outdir"], force=eng["force"],
                        maxzoom=cfg.maxzoom,
                        forcetable=eng["allow_existing"])
            finally:
                df.unpersist()
            meta = build_metadata([], {}, cfg, name=name,
                                  description=eng["description"],
                                  layers=layers, file_bbox=file_bbox,
                                  busiest=busiest,
                                  layer_descriptions=eng["layer_descriptions"])
            if eng["attribution"]:
                meta["attribution"] = eng["attribution"]  # mbtiles.cpp:357-359
            if eng["output"]:
                write_mbtiles_metadata(eng["output"], meta)
            else:
                from .io.dirtiles import write_dirtiles

                write_dirtiles(eng["outdir"], {}, meta, force=True)
            if not eng["quiet"]:
                print(f"{n_tiles} tiles -> {eng['output'] or eng['outdir']}",
                      file=sys.stderr)
            return 0

        if eng["attribution"]:
            meta["attribution"] = eng["attribution"]  # mbtiles.cpp:357-359

        if eng["output"]:
            from .io.mbtiles import write_mbtiles

            if eng["force"] and os.path.exists(eng["output"]):
                os.remove(eng["output"])
            write_mbtiles(eng["output"], tiles, meta)
        else:
            from .io.dirtiles import check_dir, write_dirtiles

            # --force clears stale tiles of the previous build first
            # (check_dir, dirtiles.cpp:66-105); -F writes into the
            # existing tileset untouched
            check_dir(eng["outdir"], force=eng["force"],
                      forcetable=eng["allow_existing"])
            write_dirtiles(eng["outdir"], tiles, meta, force=eng["force"])
        if not eng["quiet"]:
            print(f"{len(tiles)} tiles -> {eng['output'] or eng['outdir']}",
                  file=sys.stderr)
        return 0
    finally:
        import shutil as _shutil

        for _p in _scratch:
            try:
                if os.path.isdir(_p):
                    _shutil.rmtree(_p)
                else:
                    os.unlink(_p)
            except OSError:
                pass


def decode_main(argv) -> int:
    """tippecanoe-decode drop-in (decode.cpp): same flags, byte-exact
    output (tests/test_cli.py holds full-tileset, -c pipeline, -S
    stats, layer-filtered, and single-tile decodes identical to the
    compiled reference decoder).  -s non-default projections are not
    supported."""
    import gzip
    import sqlite3

    from .core.jsonwriter import JsonWriter
    from .core.mvt import decode_tile, is_compressed
    from .operators.plugin import layer_to_geojson

    minzoom, maxzoom = 0, 32
    to_decode = set()
    exclude_meta = set()
    pipeline = stats = force = False
    args = []
    i = 0
    while i < len(argv):
        t = argv[i]
        if t in ("-s", "--projection"):
            if argv[i + 1] not in ("EPSG:4326", "4326"):
                print("decode: only EPSG:4326 output supported",
                      file=sys.stderr)
                return 2
            i += 2
        elif t in ("-z", "--maximum-zoom"):
            maxzoom = int(argv[i + 1])
            i += 2
        elif t in ("-Z", "--minimum-zoom"):
            minzoom = int(argv[i + 1])
            i += 2
        elif t in ("-l", "--layer"):
            to_decode.add(argv[i + 1])
            i += 2
        elif t in ("-c", "--tag-layer-and-zoom"):
            pipeline = True
            i += 1
        elif t in ("-S", "--stats"):
            stats = True
            i += 1
        elif t in ("-f", "--force"):
            force = True
            i += 1
        elif t in ("-x", "--exclude-metadata-row"):
            exclude_meta.add(argv[i + 1])
            i += 2
        elif not t.startswith("-"):
            args.append(t)
            i += 1
        else:
            print(f"unsupported decode option: {t}", file=sys.stderr)
            return 2
    if len(args) not in (1, 4):
        print("usage: decode [-s projection] [-Z minzoom] [-z maxzoom] "
              "[-l layer ...] file.mbtiles [zoom x y]", file=sys.stderr)
        return 2
    path = args[0]

    w = JsonWriter()

    def handle(data: bytes, z: int, x: int, y: int):
        was_compressed = is_compressed(data)
        if was_compressed:
            data = gzip.decompress(data)
        tile = decode_tile(data)
        if stats:
            w.write_hash()
            w.write_string("zoom")
            w.write_signed(z)
            w.write_string("x")
            w.write_unsigned(x)
            w.write_string("y")
            w.write_unsigned(y)
            w.write_string("bytes")
            w.write_unsigned(len(data) if not was_compressed else _sizes[(z, x, y)])
            w.write_string("compressed")
            w.write_bool(was_compressed)
            w.write_string("layers")
            w.write_hash()
            for layer in tile.layers:
                w.write_string(layer.name)
                pts = sum(1 for f in layer.features if f.type == 1)
                lns = sum(1 for f in layer.features if f.type == 2)
                pls = sum(1 for f in layer.features if f.type == 3)
                w.write_hash()
                w.write_string("points")
                w.write_unsigned(pts)
                w.write_string("lines")
                w.write_unsigned(lns)
                w.write_string("polygons")
                w.write_unsigned(pls)
                w.write_string("extent")
                w.write_signed(layer.extent)
                w.end_hash()
            w.end_hash()
            w.end_hash()
            w.write_newline()
            return
        if not pipeline:
            w.write_hash()
            w.write_string("type")
            w.write_string("FeatureCollection")
            w.write_string("properties")
            w.write_hash()
            w.write_string("zoom")
            w.write_signed(z)
            w.write_string("x")
            w.write_signed(x)
            w.write_string("y")
            w.write_signed(y)
            if not was_compressed:
                w.write_string("compressed")
                w.write_bool(False)
            w.end_hash()
            w.write_string("features")
            w.write_array()
            w.write_newline()
        first_layer = True
        for layer in tile.layers:
            if layer.extent <= 0:
                raise ValueError(f"Impossible layer extent {layer.extent}")
            if to_decode and layer.name not in to_decode:
                continue
            if not pipeline:
                if not first_layer:
                    w.comma()
                w.write_hash()
                w.write_string("type")
                w.write_string("FeatureCollection")
                w.write_string("properties")
                w.write_hash()
                w.write_string("layer")
                w.write_string(layer.name)
                w.write_string("version")
                w.write_signed(layer.version)
                w.write_string("extent")
                w.write_signed(layer.extent)
                w.end_hash()
                w.write_string("features")
                w.write_array()
                w.write_newline()
                first_layer = False
            layer_to_geojson(w, layer, z, x, y, comma=not pipeline,
                             name=pipeline, zoom=pipeline, dropped=False)
            if not pipeline:
                w.end_array()
                w.end_hash()
                w.write_newline()
        if not pipeline:
            w.end_array()
            w.end_hash()
            w.write_newline()

    # enumerate tiles + metadata (mbtiles or dirtiles)
    _sizes = {}
    if os.path.isdir(path):
        import json as _json

        meta_rows = []
        mj = os.path.join(path, "metadata.json")
        if os.path.exists(mj):
            meta_rows = sorted(_json.load(open(mj)).items())

        def tiles_iter():
            from .io.dirtiles import read_dirtiles

            td = read_dirtiles(path)
            for (z, x, y) in sorted(td):
                if minzoom <= z <= maxzoom:
                    yield z, x, y, td[(z, x, y)]
    else:
        db = sqlite3.connect(path)
        meta_rows = list(db.execute(
            "SELECT name, value from metadata order by name;"))

        def tiles_iter():
            for data, tz, tx, trow in db.execute(
                    "SELECT tile_data, zoom_level, tile_column, tile_row "
                    "from tiles where zoom_level between ? and ? "
                    "order by zoom_level, tile_column, tile_row;",
                    (minzoom, maxzoom)):
                yield tz, tx, (1 << tz) - 1 - trow, bytes(data)

    if len(args) == 4:
        z, x, y = int(args[1]), int(args[2]), int(args[3])
        oz, ox, oy = z, x, y
        if os.path.isdir(path):
            from .io.dirtiles import read_dirtiles

            td = read_dirtiles(path)
            get = lambda z_, x_, y_: td.get((z_, x_, y_))
        else:
            def get(z_, x_, y_):
                row = db.execute(
                    "SELECT tile_data from tiles where zoom_level = ? and "
                    "tile_column = ? and tile_row = ?;",
                    (z_, x_, (1 << z_) - 1 - y_)).fetchone()
                return bytes(row[0]) if row else None
        while z >= 0:
            data = get(z, x, y)
            if data is not None:
                if z != oz:
                    print(f"{path}: Warning: using tile {z}/{x}/{y} "
                          f"instead of {oz}/{ox}/{oy}", file=sys.stderr)
                _sizes[(z, x, y)] = len(data)
                handle(data, z, x, y)
                break
            z -= 1
            x //= 2
            y //= 2
        sys.stdout.write(w.getvalue())
        return 0

    within = False
    if not pipeline and not stats:
        w.write_hash()
        w.write_string("type")
        w.write_string("FeatureCollection")
        w.write_string("properties")
        w.write_hash()
        w.write_newline()
        for name, value in meta_rows:
            if name in exclude_meta:
                continue
            if within:
                w.comma()
            within = True
            w.write_string(str(name))
            w.write_string(str(value))
        w.write_newline()
        w.wantnl = False  # XXX (decode.cpp:327)
        w.end_hash()
        w.write_string("features")
        w.write_array()
        w.write_newline()
    if stats:
        w.write_array()
        w.write_newline()

    within = False
    for z, x, y, data in tiles_iter():
        if not pipeline and within:
            w.comma()
        if stats and within:
            w.comma()
        within = True
        _sizes[(z, x, y)] = len(data)
        handle(data, z, x, y)

    if not pipeline and not stats:
        w.end_array()
        w.end_hash()
        w.write_newline()
    if stats:
        w.end_array()
        w.write_newline()
    if pipeline:
        w.write_newline()
    sys.stdout.write(w.getvalue())
    return 0


def join_main(argv) -> int:
    """tile-join counterpart: CSV attribute join and tileset merge."""
    import json as _json

    out = None
    outdir = None
    csv_path = None
    force = False
    name = None
    opts = {}
    inputs = []
    i = 0
    while i < len(argv):
        t = argv[i]
        if t in ("-o", "--output"):
            out = argv[i + 1]
            i += 2
        elif t in ("-e", "--output-to-directory"):
            outdir = argv[i + 1]
            i += 2
        elif t in ("-c", "--csv"):
            csv_path = argv[i + 1]
            i += 2
        elif t in ("-f", "--force"):
            force = True
            i += 1
        elif t in ("-n", "--name"):
            name = argv[i + 1]
            i += 2
        elif t in ("-i", "--if-matched"):
            opts["ifmatched"] = True
            i += 1
        elif t in ("-pe", "--empty-csv-columns-are-null"):
            opts["pe"] = True
            i += 1
        elif t in ("-pk", "--no-tile-size-limit"):
            opts["no_tile_size_limit"] = True
            i += 1
        elif t in ("-pC", "--no-tile-compression"):
            opts["no_tile_compression"] = True
            i += 1
        elif t in ("-x", "--exclude"):
            opts.setdefault("exclude", []).append(argv[i + 1])
            i += 2
        elif t in ("-X", "--exclude-all"):
            opts["exclude_all"] = True
            i += 1
        elif t in ("-j", "--feature-filter"):
            opts["feature_filter"] = _json.loads(argv[i + 1])
            i += 2
        elif t in ("-J", "--feature-filter-file"):
            opts["feature_filter"] = _json.loads(open(argv[i + 1]).read())
            i += 2
        elif t in ("-l", "--layer"):
            opts.setdefault("keep_layers", []).append(argv[i + 1])
            i += 2
        elif t in ("-L", "--exclude-layer"):
            opts.setdefault("remove_layers", []).append(argv[i + 1])
            i += 2
        elif t in ("-R", "--rename-layer"):
            old, new = argv[i + 1].split(":", 1)
            opts.setdefault("renames", {})[old] = new
            i += 2
        elif not t.startswith("-"):
            inputs.append(t)
            i += 1
        else:
            print(f"unsupported join option: {t}", file=sys.stderr)
            return 2
    if (out is None and outdir is None) or not inputs:
        print("usage: join -o out.mbtiles [-c attrs.csv] in.mbtiles ...",
              file=sys.stderr)
        return 2

    from .io.dirtiles import read_dirtiles
    from .io.mbtiles import read_mbtiles, write_mbtiles
    from .operators.tilejoin import merge_tile_streams, tile_join_local

    csv_text = open(csv_path).read() if csv_path else None
    per_key: dict = {}
    for p in inputs:
        tiles = read_dirtiles(p) if os.path.isdir(p) else read_mbtiles(p)
        for k, v in tile_join_local(tiles, csv_text, **dict(opts)).items():
            per_key.setdefault(k, []).append(v)
    merged = {k: (v[0] if len(v) == 1 else merge_tile_streams(v))
              for k, v in per_key.items()}
    meta = {"name": name or os.path.basename(out or outdir), "format": "pbf"}
    if out:
        if force and os.path.exists(out):
            os.remove(out)
        write_mbtiles(out, merged, meta)
    else:
        from .io.dirtiles import write_dirtiles

        write_dirtiles(outdir, merged, meta, force=force)
    print(f"{len(merged)} tiles -> {out or outdir}", file=sys.stderr)
    return 0


def enumerate_main(argv) -> int:
    """tippecanoe-enumerate drop-in (enumerate.cpp): one
    "<file> <z> <x> <y>" line per tile, mbtiles TMS order, y flipped."""
    import sqlite3

    if not argv or any(a.startswith("-") for a in argv):
        print("usage: enumerate file.mbtiles ...", file=sys.stderr)
        return 2
    for fname in argv:
        db = sqlite3.connect(fname)
        for zoom, x, row in db.execute(
                "SELECT zoom_level, tile_column, tile_row from tiles "
                "order by zoom_level, tile_column, tile_row;"):
            if zoom < 0 or zoom > 31:
                print(f"Corrupt mbtiles file: impossible zoom level {zoom}",
                      file=sys.stderr)
                return 1
            y = (1 << zoom) - 1 - row
            sys.stdout.write(f"{fname} {zoom} {x} {y}\n")
        db.close()
    return 0


def jsontool_main(argv) -> int:
    """tippecanoe-json-tool drop-in (jsontool.cpp main): -w/--wrap,
    -e/--extract, -c/--csv, -pe/--empty-csv-columns-are-null; input
    files or stdin.  --spark-master routes the per-feature work through
    the distributed path (io.jsontool.jsontool_spark); output bytes are
    identical either way."""
    from .io.jsontool import (JsonToolError, jsontool_spark,
                              run_jsontool_local)

    wrap = False
    extract = None
    csv_path = None
    pe = False
    spark_master = None
    inputs = []

    # getopt_long("we:c:p:") scan (jsontool.cpp:425): bundled shorts
    # ("-we name", "-ename") split IN-SCAN so an arg-taking option
    # consumes the NEXT token verbatim — even one starting with '-'
    # ("-e -we" means extract key "-we", not bundled -w -e)
    argv = list(argv)
    i = 0
    try:
        while i < len(argv):
            t = argv[i]
            if t == "--":
                # getopt end-of-options marker: the rest are inputs
                inputs.extend(argv[i + 1:])
                break
            elif t == "--wrap":
                wrap = True
            elif t == "--extract":
                extract = argv[i + 1]
                i += 1
            elif t.startswith("--extract="):
                extract = t.split("=", 1)[1]
            elif t == "--csv":
                csv_path = argv[i + 1]
                i += 1
            elif t.startswith("--csv="):
                csv_path = t.split("=", 1)[1]
            elif t == "--empty-csv-columns-are-null":
                pe = True
            elif t == "--prevent" or t.startswith("--prevent="):
                # long form of -p (jsontool.cpp:406): only 'e' is known
                if t == "--prevent":
                    arg = argv[i + 1]
                    i += 1
                else:
                    arg = t.split("=", 1)[1]
                if arg != "e":
                    print(f"json-tool: Unknown option for -p{arg}",
                          file=sys.stderr)
                    return 1
                pe = True
            elif t == "--spark-master":
                spark_master = argv[i + 1]
                i += 1
            elif t.startswith("--"):
                # getopt_long: unknown long options (and args attached
                # to no-argument ones) are errors, never input files
                if t.startswith(("--wrap=", "--empty-csv-columns-are-null=")):
                    print(f"json-tool: option '{t.split('=', 1)[0]}' "
                          "doesn't allow an argument", file=sys.stderr)
                else:
                    print(f"json-tool: unrecognized option '{t}'",
                          file=sys.stderr)
                print("Unexpected option -?", file=sys.stderr)
                return 1
            elif t.startswith("-") and t != "-":
                j = 1
                while j < len(t):
                    ch = t[j]
                    if ch == "w":
                        wrap = True
                        j += 1
                        continue
                    if ch not in ("e", "c", "p"):
                        print(f"Unexpected option -{ch}", file=sys.stderr)
                        return 1
                    arg = t[j + 1:]
                    if not arg:
                        arg = argv[i + 1]
                        i += 1
                    if ch == "e":
                        extract = arg
                    elif ch == "c":
                        csv_path = arg
                    else:  # -p: only 'e' is known
                        if arg != "e":
                            print(f"json-tool: Unknown option for -p{arg}",
                                  file=sys.stderr)
                            return 1
                        pe = True
                    break
            else:
                inputs.append(t)
            i += 1
    except IndexError:
        print("json-tool: option requires an argument", file=sys.stderr)
        return 1

    out = sys.stdout.buffer
    try:
        if spark_master is not None and inputs:
            from .session import get_spark

            spark = get_spark(master=spark_master)
            lines = jsontool_spark(spark, inputs, wrap=wrap, extract=extract,
                                   csv_path=csv_path, pe=pe)
        else:
            csv_text = None
            if csv_path is not None:
                try:
                    with open(csv_path, "r", encoding="utf-8",
                              errors="surrogateescape") as f:
                        csv_text = f.read()
                except OSError as e:
                    print(f"{csv_path}: {e.strerror}", file=sys.stderr)
                    return 1

            def read_inputs():
                from .io.geojson import read_file_text

                if not inputs:
                    yield ("standard input", sys.stdin.read())
                    return
                for path in inputs:
                    yield (path, read_file_text(path))

            lines = run_jsontool_local(read_inputs(), wrap=wrap,
                                       extract=extract, csv_text=csv_text,
                                       pe=pe)
        for line in lines:
            out.write(line.encode("utf-8", "surrogatepass") + b"\n")
        out.flush()
    except JsonToolError as e:
        out.flush()
        print(str(e), file=sys.stderr)
        return 1
    except OSError as e:
        print(f"{e.filename}: {e.strerror}", file=sys.stderr)
        return 1
    return 0


def main(argv=None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if argv and argv[0] == "decode":
        return decode_main(argv[1:])
    if argv and argv[0] == "join":
        return join_main(argv[1:])
    if argv and argv[0] == "enumerate":
        return enumerate_main(argv[1:])
    if argv and argv[0] == "json-tool":
        return jsontool_main(argv[1:])
    return build_main(argv)


if __name__ == "__main__":
    sys.exit(main())
