"""JP2 codec micro-bench: kpx/s for full-codec encode and decode (single
core) on random and natural-looking 12-bit square images.

Tier-1 dispatches to the compiled kernel (jp2_t1.c) when it builds and
to the readable reference otherwise, so the card measures whichever of
the two is active. Prints one JSON object keyed `<kind>_<size>`. Run:

    python scripts/bench_jp2.py [--sizes 64,128,256] [--reps 2]
"""

from __future__ import annotations

import argparse
import json
import sys
import time

import numpy as np

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from instageo_e2e_geospatial_ml_spark import jp2  # noqa: E402


def make_image(n: int, seed: int, kind: str) -> np.ndarray:
    rng = np.random.default_rng(seed)
    if kind == "random":
        return rng.integers(0, 2**12, (n, n), dtype=np.int64)  # S2 is 12-bit
    # "natural": smooth gradient + texture — closer to real raster stats
    y, x = np.mgrid[0:n, 0:n]
    base = (np.sin(x / 17.0) * 900 + np.cos(y / 23.0) * 700 + 2000).astype(np.int64)
    return base + rng.integers(0, 257, (n, n), dtype=np.int64)


def bench(sizes: list[int], kinds=("random", "natural"), reps: int = 2) -> dict:
    out = {}
    for kind in kinds:
        for n in sizes:
            img = make_image(n, seed=n, kind=kind)
            buf = None
            t_enc = []
            for _ in range(reps):
                t0 = time.perf_counter()
                buf = jp2.jp2_encode(img, levels=3, cblk=64)
                t_enc.append(time.perf_counter() - t0)
            t_dec = []
            for _ in range(reps):
                t0 = time.perf_counter()
                dec = jp2.jp2_decode(buf)
                t_dec.append(time.perf_counter() - t0)
            assert np.array_equal(dec, img), f"round-trip broke at {kind}/{n}"
            px = n * n
            out[f"{kind}_{n}"] = {
                "px": px,
                "enc_kpx_s": round(px / min(t_enc) / 1e3, 1),
                "dec_kpx_s": round(px / min(t_dec) / 1e3, 1),
                "bytes": len(buf),
            }
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="64,128,256")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]
    res = bench(sizes, reps=args.reps)
    print(json.dumps(res, indent=1))
