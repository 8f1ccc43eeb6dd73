"""Generate a production-shaped JPEG 2000 codestream for the JP2 ROI-probe
measurement (SCALE.md, JP2 decode row).

Shape mirrors a Sentinel-2-style band scene (SURVEY S5; the reference's
windowed read in index_generator.py): single tile, 12-bit, 5 DWT levels,
RPCL progression, 256x256 precincts (128 effective in detail bands),
64x64 code-blocks, smooth terrain-like content. ~64 MP at the default
side=8192 -- the point is to measure the ROI probe win at a size where
full decode is seconds, not milliseconds.

Usage: python3 scripts/gen_jp2_prod.py [side] [out.j2k]
"""
import sys, time, math
sys.path.insert(0, __file__.rsplit("/", 1)[0])
import jp2codec as jc

side = int(sys.argv[1]) if len(sys.argv) > 1 else 8192
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/jp2prod/scene%d.j2k" % side

t0 = time.time()
# terrain-like: two incommensurate sinusoid fields + a slow ramp, 12-bit
px = [0] * (side * side)
for y in range(side):
    row = y * side
    cy = math.cos(y * 0.0013)
    sy = math.sin(y * 0.00057)
    for x in range(side):
        px[row + x] = int(
            2048
            + 1200 * math.sin(x * 0.0011) * cy
            + 500 * sy * math.cos(x * 0.00041)
            + (x + y) * 1024 // (2 * side))
print("pixel gen: %.0f s" % (time.time() - t0), flush=True)

t0 = time.time()
s = jc.encode_j2k(px, side, side, 12, 5, cb_exp=6, prog=2,
                  precincts=[(8, 8)] * 6, plt=True)
import os
os.makedirs(out.rsplit("/", 1)[0], exist_ok=True)
open(out, "wb").write(s)
print("encode %dx%d RPCL prec=256: %.0f s, %d KB -> %s"
      % (side, side, time.time() - t0, len(s) // 1000, out), flush=True)
