#!/usr/bin/env python3
"""Generate src/test/resources/fixtures/srtm_like.tif — a small GeoTIFF
with the layout of the gdalos SRTM sample tile
(data/maps/srtm1_x35_y32.tif) but synthetic pixels:

  - classic little-endian TIFF, a single IFD
  - 361x361 Int16, one band
  - 256x256 tiles (2x2 grid), DEFLATE (compression 8), predictor 1
  - GeoKeys for EPSG:4326 (GTModelType geographic, PixelIsArea)
  - ModelPixelScale 1/3600; tiepoint (0, 0) -> (35 - 0.5/3600,
    32.1 + 0.5/3600)
  - GDAL_NODATA "-32768"

Pixel contract (mirrored by GeoTiffSpec and PixelFrame.dem): pixel
(px, py) carries
    v = -32768                       if (px*31 + py*17) % 101 == 0
    v = (px*7 + py*13) % 997         otherwise
Every value is exact in Int16. Edge-tile padding beyond 361 is 0.

Stdlib only (struct, zlib). Compressed bytes may differ across zlib
versions; the decoded pixels do not, and they are what the tests pin.

Usage: python3 tools/make_geotiff_fixture.py
"""
import os
import struct
import zlib

W = H = 361
TS = 256
NODATA = -32768
SCALE = 1.0 / 3600
ORIGIN = (35.0 - 0.5 / 3600, 32.1 + 0.5 / 3600)
OUT = os.path.join(os.path.dirname(__file__), "..",
                   "src", "test", "resources", "fixtures", "srtm_like.tif")

# TIFF field types
SHORT, LONG, ASCII, DOUBLE = 3, 4, 2, 12
TYPE_SIZE = {SHORT: 2, LONG: 4, ASCII: 1, DOUBLE: 8}
TYPE_FMT = {SHORT: "H", LONG: "I", DOUBLE: "d"}


def pixel(px, py):
    if (px * 31 + py * 17) % 101 == 0:
        return NODATA
    return (px * 7 + py * 13) % 997


def tile_bytes(tx, ty):
    """One full 256x256 tile, row-major Int16 LE, zero-padded past the
    raster edge, DEFLATE-compressed (zlib stream, as TIFF tag 8 wants)."""
    vals = []
    for y in range(ty * TS, ty * TS + TS):
        for x in range(tx * TS, tx * TS + TS):
            vals.append(pixel(x, y) if x < W and y < H else 0)
    return zlib.compress(struct.pack("<%dh" % len(vals), *vals), 9)


def pack_values(typ, values):
    if typ == ASCII:
        return values
    return struct.pack("<%d%s" % (len(values), TYPE_FMT[typ]), *values)


def main():
    ntx, nty = (W + TS - 1) // TS, (H + TS - 1) // TS
    tiles = [tile_bytes(tx, ty) for ty in range(nty) for tx in range(ntx)]

    geokeys = [1, 1, 0, 3,          # directory header: version 1.1.0, 3 keys
               1024, 0, 1, 2,       # GTModelTypeGeoKey = geographic
               1025, 0, 1, 1,       # GTRasterTypeGeoKey = PixelIsArea
               2048, 0, 1, 4326]    # GeographicTypeGeoKey = EPSG:4326
    # (tag, type, values); tile offsets are patched in once known
    entries = [
        (256, SHORT, [W]),                     # ImageWidth
        (257, SHORT, [H]),                     # ImageLength
        (258, SHORT, [16]),                    # BitsPerSample
        (259, SHORT, [8]),                     # Compression = DEFLATE
        (262, SHORT, [1]),                     # Photometric = BlackIsZero
        (277, SHORT, [1]),                     # SamplesPerPixel
        (284, SHORT, [1]),                     # PlanarConfig = chunky
        (317, SHORT, [1]),                     # Predictor = none
        (322, SHORT, [TS]),                    # TileWidth
        (323, SHORT, [TS]),                    # TileLength
        (324, LONG, [0] * len(tiles)),         # TileOffsets
        (325, LONG, [len(t) for t in tiles]),  # TileByteCounts
        (339, SHORT, [2]),                     # SampleFormat = signed int
        (33550, DOUBLE, [SCALE, SCALE, 0.0]),  # ModelPixelScale
        (33922, DOUBLE, [0.0, 0.0, 0.0, ORIGIN[0], ORIGIN[1], 0.0]),  # ModelTiepoint
        (34735, SHORT, geokeys),               # GeoKeyDirectory
        (42113, ASCII, b"%d\x00" % NODATA),    # GDAL_NODATA
    ]

    ifd_off = 8
    ifd_len = 2 + 12 * len(entries) + 4
    # out-of-line values (> 4 bytes) follow the IFD, each word-aligned
    extra_off = ifd_off + ifd_len
    layout = []
    for tag, typ, vals in entries:
        size = TYPE_SIZE[typ] * len(vals)
        if size > 4:
            layout.append(extra_off)
            extra_off += size + (size & 1)
        else:
            layout.append(None)
    # tile data follows the out-of-line values
    offsets, pos = [], extra_off
    for t in tiles:
        offsets.append(pos)
        pos += len(t) + (len(t) & 1)
    entries[[e[0] for e in entries].index(324)] = (324, LONG, offsets)

    out = bytearray(b"II" + struct.pack("<HI", 42, ifd_off))
    out += struct.pack("<H", len(entries))
    extra = bytearray()
    for (tag, typ, vals), at in zip(entries, layout):
        data = pack_values(typ, vals)
        out += struct.pack("<HHI", tag, typ, len(vals))
        if at is None:
            out += data.ljust(4, b"\x00")
        else:
            out += struct.pack("<I", at)
            extra += data + b"\x00" * (len(data) & 1)
    out += struct.pack("<I", 0)  # no further IFD: a single page
    out += extra
    assert len(out) == offsets[0]
    for t in tiles:
        out += t + b"\x00" * (len(t) & 1)

    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "wb") as f:
        f.write(out)
    print(f"wrote {os.path.normpath(OUT)} ({len(out)} bytes)")


if __name__ == "__main__":
    main()
