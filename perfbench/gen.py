"""Seeded input generator for the benchmark.

Mirrors the planted structure of ``osm_merge_spark.data.synth`` (match
classes by ``i % 10``, the 20% hot cluster by ``i % 5``, a mixed point/line
layer and decoy features) but runs in NumPy on the driver and writes parquet,
so the program under test only ever sees file paths and the first timed rep
runs in a JVM that has executed no query yet.

Every value is a pure function of the row index ``i``; the seed offsets the
row index (``i = seed * SEED_STRIDE + k``), so the same seed gives the same
files and another seed gives other positions, captions and typos with the
same class mix. ``SEED_STRIDE`` is a multiple of 10, which keeps each row's
match class (``i % 10``) and hot flag (``i % 5``) independent of the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from osm_merge_spark.data import synth

SEED_STRIDE = 1_000_000_000
DECOY_FRAC = 0.1
_DECOY_POS_OFFSET = 7_777_777  # synth_layer's decoy position / caption offsets
_DECOY_CAP_OFFSET = 9_999_999


def _mix(i: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finaliser of (i, salt): a uniform uint64 per row."""
    with np.errstate(over="ignore"):
        z = i.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + np.uint64(salt)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _unit(i: np.ndarray, salt: int) -> np.ndarray:
    """Uniform [0, 1) double per row (synth uses md5 % 1e6 / 1e6)."""
    return (_mix(i, salt) % np.uint64(1_000_000)).astype(np.float64) / 1_000_000.0


def _pick(words: list[str], i: np.ndarray, salt: int) -> pa.Array:
    return pa.array(words).take(pa.array(_mix(i, salt) % np.uint64(len(words))))


def _captions(i: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(
        _pick(synth._W1, i, 11), _pick(synth._W2, i, 12), _pick(synth._SUF, i, 13), " ")


def _positions(i: np.ndarray, spread: float) -> tuple[np.ndarray, np.ndarray]:
    """synth._position: hot cluster for i % 5 == 0, else uniform in the AOI bbox."""
    u1, u2 = _unit(i, 21), _unit(i, 22)
    hot = (i % synth.HOT_FRAC_MOD) == 0
    lon = np.where(hot, synth.HOT_LON + (u1 - 0.5) * spread,
                   synth.LON_MIN + u1 * (synth.LON_MAX - synth.LON_MIN))
    lat = np.where(hot, synth.HOT_LAT + (u2 - 0.5) * spread,
                   synth.LAT_MIN + u2 * (synth.LAT_MAX - synth.LAT_MIN))
    return lon, lat


def images(n: int, seed: int) -> dict:
    """The image table: image_id, caption (arrow strings), lon, lat (plus the
    row index i)."""
    i = np.int64(seed) * SEED_STRIDE + np.arange(n, dtype=np.int64)
    lon, lat = _positions(i, synth._hot_spread(n))
    return {
        "i": i,
        "image_id": pc.binary_join_element_wise("img-", pc.cast(pa.array(i), pa.string()), ""),
        "caption": _captions(i),
        "lon": lon,
        "lat": lat,
    }


def layer(img: dict, threshold_m: float = synth.DEFAULT_THRESHOLD_M) -> dict:
    """The existing layer, planted from the images exactly as synth_layer
    plants it: classes 0-6 get a feature (1 = a 3-vertex line), 4 sits on
    the image, 6 sits 0.08 deg away, 2-3 carry a one-letter typo, 5 an
    unrelated name; plus DECOY_FRAC point decoys derived from no image."""
    i, n = img["i"], len(img["i"])
    cls = i % 10
    keep = cls <= 6
    i, cls = i[keep], cls[keep]
    cap = img["caption"].to_numpy(zero_copy_only=False)[keep]
    jit = threshold_m * 0.45 * synth._DEG_PER_M_LAT
    uj1 = (_mix(i, 31) % np.uint64(1000)).astype(np.float64) / 500.0 - 1.0
    uj2 = (_mix(i, 32) % np.uint64(1000)).astype(np.float64) / 500.0 - 1.0
    dlon = np.where(cls == 4, 0.0, np.where(cls == 6, 0.08, uj1 * jit))
    dlat = np.where(cls == 4, 0.0, np.where(cls == 6, 0.08, uj2 * jit))
    flon, flat = img["lon"][keep] + dlon, img["lat"][keep] + dlat
    typo = np.array([c[:2] + "x" + c[3:] for c in cap], dtype=object)
    fcap = np.where(np.isin(cls, (2, 3)), typo,
                    np.where(cls == 5, "Unrelated Gravel Pit", cap))
    seg = 30.0 * synth._DEG_PER_M_LAT
    is_line = cls == 1
    xs = [[x - seg, x, x + seg] if ln else [x] for x, ln in zip(flon, is_line)]
    ys = [[y - seg * 0.3, y, y + seg * 0.3] if ln else [y] for y, ln in zip(flat, is_line)]
    tags = [[("name", c), ("highway", "track" if ln else "path"), ("surface", "dirt")]
            for c, ln in zip(fcap, is_line)]

    base = int(img["i"][0]) if n else 0
    n_dec = int(n * DECOY_FRAC)
    d = np.int64(base) + np.arange(n_dec, dtype=np.int64)
    dlon2, dlat2 = _positions(d + _DECOY_POS_OFFSET, synth._hot_spread(n))
    dcap = _captions(d + _DECOY_CAP_OFFSET).to_numpy(zero_copy_only=False)
    return {
        "feature_id": np.concatenate([i + 1, base + n + 1 + np.arange(n_dec, dtype=np.int64)]),
        "version": np.concatenate([(_mix(i, 41) % np.uint64(3)).astype(np.int32) + 1,
                                   np.ones(n_dec, dtype=np.int32)]),
        "geom_type": np.concatenate([np.where(is_line, "LineString", "Point"),
                                     np.full(n_dec, "Point")]).astype(object),
        "xs": xs + [[x] for x in dlon2],
        "ys": ys + [[y] for y in dlat2],
        "tags": tags + [[("name", c)] for c in dcap],
        "caption": np.concatenate([fcap, dcap]).astype(object),
    }


_IMAGE_SCHEMA = pa.schema([("image_id", pa.string()), ("caption", pa.string()),
                           ("lon", pa.float64()), ("lat", pa.float64())])
_LAYER_SCHEMA = pa.schema([
    ("feature_id", pa.int64()), ("version", pa.int32()), ("geom_type", pa.string()),
    ("xs", pa.list_(pa.float64())), ("ys", pa.list_(pa.float64())),
    ("tags", pa.map_(pa.string(), pa.string())), ("caption", pa.string()),
])


def write_parquet(cols: dict, schema: pa.Schema, path: str, n_files: int) -> None:
    """Write the table as n_files parquet files (the scan's split count)."""
    os.makedirs(path, exist_ok=True)
    table = pa.table({f.name: cols[f.name] for f in schema}, schema=schema)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))


def write_inputs(root: str, n: int, seed: int, with_layer: bool, n_files: int
                 ) -> tuple[dict, dict | None]:
    """Generate and write images (and the layer) under root; return both
    tables so the output checks can use them without re-reading."""
    img = images(n, seed)
    write_parquet(img, _IMAGE_SCHEMA, os.path.join(root, "images"), n_files)
    lay = None
    if with_layer:
        lay = layer(img)
        write_parquet(lay, _LAYER_SCHEMA, os.path.join(root, "layer"), n_files)
        for c in ("image_id", "caption"):
            img[c] = img[c].to_numpy(zero_copy_only=False)
    return img, lay
