"""Point-in-polygon ray casting: the tie cases only fault injection
reaches — vertex-on-ray, point on horizontal/vertical edges, concave
re-entry — pinned against hand-computed truth (VERDICT r8 item 5)."""

from __future__ import annotations

from market_etl_spark.queries.relational_ext import _POLY_EDGES, pip_join

# the rectilinear L (poly 2): (500,500)(900,500)(900,700)(700,700)
#                             (700,900)(500,900)


def _run(spark, pts):
    points = spark.createDataFrame(pts, "u long, px long, py long")
    edges = spark.createDataFrame(
        _POLY_EDGES, "poly_id int, x1 int, y1 int, x2 int, y2 int"
    )
    return {(r.poly_id, r.u) for r in pip_join(points, edges).collect()}


def test_interior_and_exterior(spark):
    got = _run(
        spark,
        [
            (1, 600, 600),   # inside the L's lower arm
            (2, 800, 800),   # inside the L's bbox but in the notch -> out
            (3, 200, 200),   # inside the quad (poly 1)
            (4, 990, 990),   # outside everything
            (5, 100, 100),   # inside the triangle (poly 3), on quad vertex
        ],
    )
    assert (2, 1) in got
    assert (2, 2) not in got  # concave notch: bbox hit, polygon miss
    assert (1, 3) in got
    assert all(u != 4 for _, u in got)
    assert (3, 5) in got


def test_horizontal_edge_ties(spark):
    """Half-open [ymin, ymax) rule: the L's BOTTOM edge (y=500) is
    inside, its TOP edge (y=900) is outside — horizontal edges are
    never counted as crossings, adjacent polygons sharing an edge
    could never double-claim a point."""
    got = _run(spark, [(1, 600, 500), (2, 600, 900), (3, 750, 700)])
    assert (2, 1) in got       # bottom boundary -> inside
    assert (2, 2) not in got   # top boundary -> outside
    # the notch floor (y=700 at x=750): by the half-open rule the
    # point ON the notch's horizontal edge resolves deterministically
    assert (2, 3) not in got  # y=700 at x=750 sits ON the notch floor -> out


def test_vertex_on_ray_counts_once(spark):
    """A ray passing exactly through a vertex must count one crossing,
    not two (the classic double-count bug the half-open rule kills).
    Quad vertex (400,150): a point left of it at y=150."""
    got = _run(spark, [(1, 200, 150)])
    # hand-check: inside the quad at y=150 between the left edge and
    # the vertex at x=400 -> exactly one crossing to the right
    assert (1, 1) in got


def test_vertical_edge_is_exclusive(spark):
    """A point ON a vertical edge: strictly-right crossing test makes
    the boundary exterior (deterministic rule, both engines agree)."""
    got = _run(spark, [(1, 900, 600), (2, 500, 600)])
    assert (2, 1) not in got   # right edge of the L
    assert (2, 2) in got       # LEFT edge: the edge itself crosses
    # strictly right? cross-product: px=x1=x2=500 -> crossing via the
    # left vertical edge is zero-distance... verify by parity: a point
    # on the left edge sees the RIGHT edge (x=900) as its one crossing
    # -> inside. Both engines compute the identical rule.


def test_matches_brute_force_shapely_free(spark):
    """Grid sweep: pip_join equals a pure-Python ray caster (same
    half-open rule, integer arithmetic) over a 21x21 lattice covering
    all three polygons."""
    def py_inside(px, py, ring):
        n = 0
        for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
            if (y1 > py) != (y2 > py):
                cross = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
                if (y2 > y1 and cross > 0) or (y2 < y1 and cross < 0):
                    n += 1
        return n % 2 == 1

    from market_etl_spark.queries.relational_ext import _POLYGONS

    pts = [
        (i * 21 + j, i * 50, j * 50) for i in range(21) for j in range(21)
    ]
    got = _run(spark, pts)
    want = {
        (pid, u)
        for u, px, py in pts
        for pid, ring in _POLYGONS.items()
        if py_inside(px, py, ring)
    }
    assert got == want
