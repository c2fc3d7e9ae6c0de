"""Property-based tests (hypothesis): engine Column expressions vs a direct
pure-Python transcription of the reference formulas (``_funcs.py:240-267``,
``_tile.py:24-157``), plus structural invariants the reference tests imply
(point-in-returned-tile, children/parent round-trip, cover==bbox-overlap)."""

from pyspark.sql import functions as F

from tilematrix_spark import exprs
from tilematrix_spark.grid import PyramidConfig
from tilematrix_spark.operators import cover


# -- independent pure-python mirror (transcribed from the reference) --------

def ref_tile_from_xy(tp, x, y, zoom, on_edge_use="rb"):
    """Direct transcription of _tile_from_xy + bounds guard."""
    if x < tp.left or x > tp.right or y < tp.bottom or y > tp.top:
        return None
    h = tp.pixel_y_size(zoom) * tp.tile_size * tp.metatiling
    w = tp.pixel_x_size(zoom) * tp.tile_size * tp.metatiling
    row = int((tp.top - y) / h)
    if on_edge_use in ("rt", "lt") and (tp.top - y) % h == 0.0:
        row -= 1
    col = int((x - tp.left) / w)
    if on_edge_use in ("lb", "lt") and (x - tp.left) % w == 0.0:
        col -= 1
    if tp.is_global:
        mw = tp.matrix_width(zoom)
        if col == -1:
            col = mw - 1
        elif col >= mw:
            col = col % mw
    if not (0 <= row < tp.matrix_height(zoom) and 0 <= col < tp.matrix_width(zoom)):
        return None
    return (row, col)


def ref_tile_bounds(tp, zoom, row, col, pixelbuffer=0):
    h = tp.pixel_y_size(zoom) * tp.tile_size * tp.metatiling
    w = tp.pixel_x_size(zoom) * tp.tile_size * tp.metatiling
    top = tp.top - row * h
    bottom = max(top - h, tp.bottom)
    left = tp.left + col * w
    right = min(left + w, tp.right)
    if pixelbuffer:
        off = tp.pixel_x_size(zoom) * pixelbuffer
        left, bottom, right, top = left - off, bottom - off, right + off, top + off
    if tp.is_global:
        top = min(top, tp.top)
        bottom = max(bottom, tp.bottom)
    return (left, bottom, right, top)


PYRAMIDS = [
    PyramidConfig.create("geodetic"),
    PyramidConfig.create("mercator", metatiling=2),
    PyramidConfig.create(
        {"shape": (161, 315), "bounds": (141920.0, 89840.0, 948320.0, 502000.0),
         "is_global": False, "srs": {"epsg": 31259}}, metatiling=4,
    ),
]

def _abs_xy(tp, fx, fy):
    x = tp.left + fx * (tp.right - tp.left)
    y = tp.bottom + fy * (tp.top - tp.bottom)
    return x, y


def test_tile_from_xy_matches_reference_mirror(spark):
    import random

    rnd = random.Random(1234)
    cases = []
    for _ in range(600):
        pi = rnd.randrange(len(PYRAMIDS))
        fx = rnd.uniform(-0.2, 1.2)
        fy = rnd.uniform(-0.2, 1.2)
        # force a share of exact grid-line hits
        z = rnd.randrange(0, 9)
        if rnd.random() < 0.3:
            tp = PYRAMIDS[pi]
            k = rnd.randrange(0, tp.matrix_width(z) + 1)
            fx = k * tp.tile_x_size(z) / (tp.right - tp.left)
        edge = rnd.choice(["rb", "lb", "rt", "lt"])
        cases.append((pi, fx, fy, z, edge))

    for pi, tp in enumerate(PYRAMIDS):
        for edge in ("rb", "lb", "rt", "lt"):
            sub = [(fx, fy, z) for (p, fx, fy, z, e) in cases if p == pi and e == edge]
            if not sub:
                continue
            rows = [( *_abs_xy(tp, fx, fy), z) for fx, fy, z in sub]
            df = spark.createDataFrame(rows, "x double, y double, zoom int")
            got = df.select(
                "x", "y", "zoom",
                exprs.tile_from_xy(tp, "x", "y", F.col("zoom"), on_edge_use=edge).alias("t"),
            ).collect()
            for r in got:
                expect = ref_tile_from_xy(tp, r["x"], r["y"], r["zoom"], edge)
                actual = None if r["t"] is None else (r["t"]["row"], r["t"]["col"])
                assert actual == expect, (tp.grid.type, r["x"], r["y"], r["zoom"], edge)


def test_point_in_returned_tile(spark):
    """Reference invariant (test_tilepyramid.py:145): the returned tile's
    bbox contains (or touches, on edges) the query point."""
    import random

    rnd = random.Random(7)
    for tp in PYRAMIDS:
        rows = []
        for _ in range(150):
            fx, fy = rnd.random(), rnd.random()
            rows.append((*_abs_xy(tp, fx, fy), rnd.randrange(0, 8)))
        df = spark.createDataFrame(rows, "x double, y double, zoom int")
        got = df.select(
            "x", "y", "zoom", exprs.tile_from_xy(tp, "x", "y", F.col("zoom")).alias("t")
        ).filter(F.col("t").isNotNull()).collect()
        assert got
        for r in got:
            b = ref_tile_bounds(tp, r["zoom"], r["t"]["row"], r["t"]["col"])
            assert b[0] <= r["x"] <= b[2] and b[1] <= r["y"] <= b[3]


def test_children_parent_roundtrip(spark, geodetic):
    from tilematrix_spark.operators import hierarchy

    ids = [(z, r, c) for z in (0, 1, 3, 5) for r in (0, 1) for c in (0, 1)
           if r < geodetic.matrix_height(z) and c < geodetic.matrix_width(z)]
    df = spark.createDataFrame(ids, "zoom int, row long, col long")
    kids = hierarchy.children(df, geodetic)
    back = kids.select(
        "zoom", "row", "col",
        hierarchy.parent("child_zoom", "child_row", "child_col").alias("p"),
    ).collect()
    for r in back:
        assert (r["p"]["zoom"], r["p"]["row"], r["p"]["col"]) == (r["zoom"], r["row"], r["col"])


def test_cover_equals_bbox_overlap_bruteforce(spark):
    """Cover output == brute-force 'tile bbox overlaps query box' filter
    computed with the pure mirror (interval overlap with corner-edge rules)."""
    import random

    rnd = random.Random(99)
    tp = PyramidConfig.create("geodetic")
    zoom = 4
    h = tp.tile_y_size(zoom)
    for _ in range(25):
        l = rnd.uniform(-220, 170)
        b = rnd.uniform(-100, 80)
        r = l + rnd.uniform(0.5, 80)
        t = b + rnd.uniform(0.5, 40)
        df = spark.createDataFrame([(l, b, r, t)], "left double, bottom double, right double, top double")
        got = {(x["row"], x["col"]) for x in cover.tiles_from_bounds(df, tp, zoom).collect()}
        # brute force via the reference's own construction: corner tiles on
        # normalized parts
        expect = set()
        bb = max(b, tp.bottom)
        tt = min(t, tp.top)
        if tt < bb:
            assert got == set()
            continue
        parts = []
        if l < tp.left and r <= tp.right:
            parts = [(l + 360.0, tp.right), (tp.left, r)]
        elif r > tp.right and l >= tp.left:
            parts = [(tp.left, r - 360.0), (l, tp.right)]
        elif l < tp.left and r > tp.right:
            parts = [(tp.left, tp.right)]
        else:
            parts = [(l, r)]
        crossing = l < tp.left or r > tp.right
        cl, cr = (tp.left, tp.right) if crossing else (l, r)
        lb_t = ref_tile_from_xy(tp, max(min(cl, tp.right), tp.left), bb, zoom, "rt")
        rt_t = ref_tile_from_xy(tp, max(min(cr, tp.right), tp.left), tt, zoom, "lb")
        if lb_t and rt_t:
            multi = crossing and not (l < tp.left and r > tp.right) and (r < l + 360.0)
            for row in range(rt_t[0], lb_t[0] + 1):
                for col in range(lb_t[1], rt_t[1] + 1):
                    if multi:
                        txl = tp.left + col * h
                        txr = min(txl + h, tp.right)
                        if not any(txl <= pr and txr >= pl for pl, pr in parts):
                            continue
                    expect.add((row, col))
        assert got == expect, (l, b, r, t)


def test_minhash_signature_properties(spark):
    """Identical normalized docs share signatures; signature is order-
    insensitive over shingle duplicates."""
    from tilematrix_spark.functions import dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "  ALPHA   beta GAMMA delta epsilon zeta "),
            (3, "alpha beta gamma delta epsilon zeta alpha beta gamma delta epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: tuple(r[f"sig{i}"] for i in range(4))
            for r in dedup.minhash_signatures(docs, num_hashes=4).collect()}
    assert sigs[1] == sigs[2]
    # doc 3's shingle set is a superset (wrap-around trigrams) -> mins can
    # only decrease or stay equal
    assert all(sigs[3][i] <= sigs[1][i] for i in range(4))


def test_quality_monotone_empty_vs_real(spark):
    from tilematrix_spark.functions import text as textfns

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog near the river bank today"),
         (2, ""), (3, "!!! ??? ... ;;;")],
        "doc_id long, text string",
    )
    q = {r["doc_id"]: r["q"] for r in df.select("doc_id", textfns.quality_score("text").alias("q")).collect()}
    assert q[1] > q[2] and q[1] > q[3]


def test_morton_random_mirror(spark):
    """600 random (row, col) pairs: exprs.morton_id == pure-python bit
    interleave, and morton sorting within any 2^k-aligned square block
    keeps the block contiguous (the prefix property of the Z curve)."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(7))
    rows = rng.integers(0, 1 << 29, size=600)
    cols = rng.integers(0, 1 << 29, size=600)

    def py_morton(r, c):
        out = 0
        for i in range(30):
            out |= ((int(c) >> i) & 1) << (2 * i)
            out |= ((int(r) >> i) & 1) << (2 * i + 1)
        return out

    df = spark.createDataFrame(
        [(int(r), int(c)) for r, c in zip(rows, cols)], "row long, col long"
    )
    got = {
        (x["row"], x["col"]): x["m"]
        for x in df.select("row", "col", exprs.morton_id("row", "col").alias("m")).collect()
    }
    for r, c in zip(rows, cols):
        assert got[(int(r), int(c))] == py_morton(r, c)
    # prefix property: all cells of an aligned 2^k block share the morton
    # prefix, so the block occupies one contiguous morton range
    for r0, c0, k in ((0, 0, 3), (8, 24, 3), (512, 1024, 4)):
        ms = sorted(
            py_morton(r0 + dr, c0 + dc)
            for dr in range(1 << k)
            for dc in range(1 << k)
        )
        assert ms[-1] - ms[0] == (1 << (2 * k)) - 1


def test_portable_lsh_buckets_partitioning_invariant(spark):
    """Portable LSH bucket assignment is a pure function of the vector:
    identical at any partitioning/parallelism (the integer-exactness claim
    the ANN oracle rests on)."""
    import numpy as np

    from tilematrix_spark.functions import similarity

    rng = np.random.Generator(np.random.PCG64(11))
    vecs = rng.standard_normal((300, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )

    def buckets(frame):
        out = similarity.with_lsh_buckets(frame, dim=16, num_bits=16, bands=4)
        return {
            r["vec_id"]: tuple(r[f"bucket_{b}"] for b in range(4))
            for r in out.collect()
        }

    a = buckets(df.coalesce(1))
    b = buckets(df.repartition(13))
    assert a == b
    # python mirror: quantize + int matmul + band pack
    planes = similarity.portable_sign_planes(16, 16)
    iv = np.floor(vecs.astype(np.float64) * similarity.PORTABLE_SCALE + 0.5)
    signs = (iv @ planes) > 0
    weights = 1 << np.arange(4)
    keys = signs.reshape(-1, 4, 4).astype(np.int64) @ weights
    for i in range(300):
        assert a[i] == tuple(int(k) for k in keys[i])
