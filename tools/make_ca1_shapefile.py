#!/usr/bin/env python3
"""Write the CA1 overhead-features shapefile test fixture.

Rebuilds CA1_overhead_features.{shp,shx,dbf} from the FIXTURES.md section 1
decode: 4 single-ring polygons (shape type 5) and a dBASE III table with
fields `id N(10,0)` and `adjust_val N(21,2)`, where records 1-3 hold NULL
(blank) `adjust_val`. Only the standard library is used.

    python3 tools/make_ca1_shapefile.py [out_dir]

out_dir defaults to src/test/resources.
"""
import os
import struct
import sys

# (id, adjust_val, ring) per feature; the first point repeats as the last
FEATURES = [
    (2, -3.00, [(341431.4458, 555569.2773), (341455.5102, 555565.9580),
                (341412.3603, 555417.4228), (341384.9767, 555420.7420),
                (341431.4458, 555569.2773)]),
    (4, None, [(341313.7866, 554692.3337), (341342.7971, 554708.2894),
               (341353.9178, 554694.2677), (341327.8084, 554679.2790),
               (341313.7866, 554692.3337)]),
    (5, None, [(341365.6132, 554999.1120), (341391.1149, 554998.2619),
               (341395.3652, 554948.9587), (341374.1138, 554950.6588),
               (341365.6132, 554999.1120)]),
    (9, None, [(341020.0371, 554941.3361), (341019.2848, 554953.3739),
               (341116.3402, 554956.3834), (341120.1020, 554944.3455),
               (341020.0371, 554941.3361)]),
]
POLYGON = 5


def bbox(points):
    xs = [p[0] for p in points]
    ys = [p[1] for p in points]
    return min(xs), min(ys), max(xs), max(ys)


def header(file_bytes, box):
    """100-byte main-file header shared by .shp and .shx."""
    return (struct.pack(">7i", 9994, 0, 0, 0, 0, 0, file_bytes // 2)
            + struct.pack("<2i", 1000, POLYGON)
            + struct.pack("<8d", *box, 0.0, 0.0, 0.0, 0.0))


def polygon_content(ring):
    return (struct.pack("<i4d2i", POLYGON, *bbox(ring), 1, len(ring))
            + struct.pack("<i", 0)
            + b"".join(struct.pack("<2d", x, y) for x, y in ring))


def shp_and_shx():
    records, index, offset = [], [], 100
    for n, (_, _, ring) in enumerate(FEATURES, start=1):
        content = polygon_content(ring)
        records.append(struct.pack(">2i", n, len(content) // 2) + content)
        index.append(struct.pack(">2i", offset // 2, len(content) // 2))
        offset += 8 + len(content)
    box = bbox([p for _, _, ring in FEATURES for p in ring])
    shp = b"".join(records)
    shx = b"".join(index)
    return (header(100 + len(shp), box) + shp,
            header(100 + len(shx), box) + shx)


def dbf():
    fields = [(b"id", 10, 0), (b"adjust_val", 21, 2)]
    record_len = 1 + sum(size for _, size, _ in fields)
    header_len = 32 + 32 * len(fields) + 1
    out = struct.pack("<4BIHH20x", 3, 120, 1, 1, len(FEATURES),
                      header_len, record_len)
    for name, size, dec in fields:
        out += struct.pack("<11sc4xBB14x", name, b"N", size, dec)
    out += b"\r"
    for fid, adjust, _ in FEATURES:
        out += b" " + str(fid).rjust(10).encode("ascii")
        text = "" if adjust is None else "%.2f" % adjust
        out += text.rjust(21).encode("ascii")
    return out + b"\x1a"


def main():
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "src/test/resources"
    shp, shx = shp_and_shx()
    for ext, data in (("shp", shp), ("shx", shx), ("dbf", dbf())):
        with open(os.path.join(out_dir, "CA1_overhead_features." + ext), "wb") as f:
            f.write(data)


if __name__ == "__main__":
    main()
