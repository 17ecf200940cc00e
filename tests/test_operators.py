"""Operator-level tests on planted fixtures (golden-row style, FIXTURES.md §6)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _planted(spark):
    """pip_in_01 / pip_out_01 analogue: known inside/outside points."""
    pts = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 5.0, 5.0), (3, 0.99, 0.01), (4, -0.01, 0.5)],
        "point_id int, lon double, lat double",
    )
    polys = spark.createDataFrame(
        [(10, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0])],
        "poly_id int, xs array<double>, ys array<double>",
    )
    return pts, polys


def _cross_cell(spark):
    """One polygon spanning 16 x 16 one-degree cells."""
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 7.9, 7.9)], "point_id int, lon double, lat double"
    )
    polys = spark.createDataFrame(
        [(10, [-8.0, 8.0, 8.0, -8.0], [-8.0, -8.0, 8.0, 8.0])],
        "poly_id int, xs array<double>, ys array<double>",
    )
    return pts, polys


def test_pip_join_planted(spark):
    from geospatial_analysis_integrity_tool_spark.operators.pip import pip_join

    got = {
        (r.point_id, r.poly_id)
        for r in pip_join(*_planted(spark), cell_deg=1.0).collect()
    }
    assert got == {(1, 10), (3, 10)}


def test_pip_join_cross_cell_duplication(spark):
    """A polygon spanning many cells must match each point exactly once."""
    from geospatial_analysis_integrity_tool_spark.operators.pip import pip_join

    rows = pip_join(*_cross_cell(spark), cell_deg=1.0).collect()
    assert sorted((r.point_id, r.poly_id) for r in rows) == [(1, 10), (2, 10)]


def test_pip_join_shipped_matches_broadcast(spark):
    """The array-shipping variant (the only route for polygon sets whose
    padded vertices exceed BROADCAST_MAX_VERTEX_BYTES) returns the same
    rows, columns included, as the broadcast refine."""
    from geospatial_analysis_integrity_tool_spark.operators.pip import (
        pip_join,
        pip_join_shipped,
    )

    for pts, polys in (_planted(spark), _cross_cell(spark)):
        shipped = pip_join_shipped(pts, polys, cell_deg=1.0)
        broadcast = pip_join(pts, polys, cell_deg=1.0)
        assert shipped.columns == broadcast.columns
        assert sorted(shipped.collect()) == sorted(broadcast.collect())
        assert shipped.count() > 0


def test_band_join_matches_brute_force(spark):
    """band_join (the edge-match checks' 1-D k-ring) against a brute-force
    cross join: pairs straddling band edges, negative u, and pairs just
    inside and just outside a tolerance; each pair less than BAND_DEG apart
    is a candidate exactly once, so each in-tolerance pair is found once."""
    from geospatial_analysis_integrity_tool_spark.operators.pip import (
        BAND_DEG,
        band_join,
    )

    tol = 0.6 * BAND_DEG
    eps = 0.01 * BAND_DEG
    left_u = [0.0, BAND_DEG - eps, 3 * BAND_DEG, -eps, -2 * BAND_DEG + eps,
              -7.5 * BAND_DEG, 41.0 + 0.3 * BAND_DEG]
    right_u = []
    for u in left_u:  # just inside and just outside the tolerance, each side
        right_u += [u + tol - eps, u - tol + eps, u + tol + eps, u - tol - eps]
    for k in (-3, 0, 1, 4):  # straddling a band edge
        left_u.append(k * BAND_DEG - eps)
        right_u.append(k * BAND_DEG + eps)
    left = spark.createDataFrame(list(enumerate(left_u)), "lid int, lu double")
    right = spark.createDataFrame(list(enumerate(right_u)), "rid int, ru double")

    cands = band_join(left, right, "lu", "ru")
    assert cands.columns == ["lid", "lu", "rid", "ru"]
    pairs = [(r.lid, r.rid) for r in cands.collect()]
    assert len(pairs) == len(set(pairs))
    assert set(pairs) >= {
        (i, j)
        for i, a in enumerate(left_u)
        for j, b in enumerate(right_u)
        if abs(a - b) < BAND_DEG
    }

    got = sorted(
        (r.lid, r.rid)
        for r in cands.filter(F.abs(F.col("lu") - F.col("ru")) < tol).collect()
    )
    want = sorted(
        (i, j)
        for i, a in enumerate(left_u)
        for j, b in enumerate(right_u)
        if abs(a - b) < tol
    )
    assert got == want
    assert len(want) >= 2 * 7 + 4


def test_only_pip_builds_band_and_cell_grids():
    """One band join and one set of DuckDB cell renderers: only
    operators/pip.py builds the +-1 band array, no queries/ module defines
    its own banded join or cell-cover renderer, and the edge-match module
    registers no view."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "geospatial_analysis_integrity_tool_spark"
    band_array = re.compile(r"band\w*\s*-\s*1\b")
    builders = [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        if band_array.search(p.read_text())
    ]
    assert builders == ["operators/pip.py"]

    private = re.compile(
        r"^def (_banded_\w*|_cellify_sql|_segc_sql|_pk_sql|_cells|_seg_cells|_seg_bbox"
        r"|_with_bbox)\(",
        re.M,
    )
    assert [
        p.name for p in sorted((pkg / "queries").glob("*.py"))
        if private.search(p.read_text())
    ] == []
    assert "createOrReplaceTempView" not in (pkg / "queries" / "edgematch.py").read_text()


def test_geometry_sql_is_never_rewritten():
    """Geometry SQL is rendered by argument: no module under queries/,
    operators/ or sources/ keeps a substring-rebinding helper or a hand copy of a
    renderer, and none calls .replace( on SQL text.  The exceptions escape
    ' in SQL literals and build misc.py's checkpoint path key."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "geospatial_analysis_integrity_tool_spark"
    files = sorted(p for d in ("queries", "operators", "sources") for p in (pkg / d).glob("*.py"))
    rebind = re.compile(r"^def (_sub|_sub_ab|_mat|oracle_materialized)\(", re.M)
    copies = re.compile(r"\b(RAY_CROSS|_TRI_RAY|_guarded_xy)\b")
    quote_escape = re.compile(r"""\.replace\("'", "''"\)""")
    escapers = {"nunanpoq.py", "modeldomains.py", "mgcpq.py", "conditionspipe.py"}
    offenders = []
    for p in files:
        text = p.read_text()
        if rebind.search(text) or copies.search(text):
            offenders.append(p.name)
        if p.name in escapers:
            text = quote_escape.sub("", text)
        if p.name == "misc.py":
            text = text.replace('.replace("/", "_")', "", 1)
        if ".replace(" in text:
            offenders.append(p.name)
    assert offenders == []


def test_one_crossing_join_and_one_triangle_cover():
    """Spark crossing joins go through operators/intersections.crossing_pairs:
    outside that module, the only Spark function that applies
    sql_proper_cross is intvariants.q_cut_int (a per-area equi-join, not a
    cell join), whether it calls the renderer or evaluates a module-level
    name bound to its text, and the only Spark functions joining an
    explode_seg_cells cover are the three that are not crossing joins.
    Triangle cell covers go through operators/pip.explode_tri_cells: no
    queries/ module builds a triangle bbox column by hand."""
    import ast
    import re
    from pathlib import Path

    def calls(node, name):
        return [
            c for c in ast.walk(node)
            if isinstance(c, ast.Call)
            and name in (getattr(c.func, "id", None), getattr(c.func, "attr", None))
        ]

    pkg = Path(__file__).resolve().parents[1] / "geospatial_analysis_integrity_tool_spark"
    trees = {
        str(p.relative_to(pkg)): (p.read_text(), ast.parse(p.read_text()))
        for p in sorted(pkg.rglob("*.py"))
        if str(p.relative_to(pkg)) != "operators/intersections.py"
    }
    # module-level names bound to a text that renders the predicate
    cross_names = {
        t.id
        for _, tree in trees.values()
        for node in tree.body
        if isinstance(node, ast.Assign) and calls(node.value, "sql_proper_cross")
        for t in node.targets
        if isinstance(t, ast.Name)
    }
    spark_cross, seg_joins = [], []
    for rel, (text, tree) in trees.items():
        for node in tree.body:
            if not isinstance(node, ast.FunctionDef):
                continue
            body = ast.get_source_segment(text, node)
            bound = any(
                isinstance(n, ast.Name) and n.id in cross_names
                for c in calls(node, "expr") + calls(node, "filter") + calls(node, "where")
                for a in c.args
                for n in ast.walk(a)
            )
            if bound or ("sql_proper_cross(" in body and "F." in body):
                spark_cross.append((rel, node.name))
            if calls(node, "explode_seg_cells") and calls(node, "join"):
                seg_joins.append((rel, node.name))
    assert spark_cross == [("queries/intvariants.py", "q_cut_int")]
    # collinear overlap (NONODEOVLP, LSEGCOVERA) and point-on-perimeter joins
    assert seg_joins == [
        ("queries/intvariants.py", "q_nonodeovlp"),
        ("queries/lavariants.py", "q_line_in_area_checks"),
        ("queries/witnessq.py", "q_perimeter_connect_checks"),
    ]

    tri_bbox = re.compile(
        r'F\.least\(\s*"x1",\s*"x2",\s*"x3"\s*\)|F\.expr\(\s*"LEAST\(x1, x2, x3\)"\s*\)'
    )
    assert [
        rel for rel, (text, _) in trees.items()
        if rel.startswith("queries/") and tri_bbox.search(text)
    ] == []


def test_crossing_pairs_matches_brute_force(spark):
    """The cell crossing join finds exactly the properly crossing pairs of a
    cross join, over segments that span several cells, a long diagonal,
    vertical segments, a touching (T) pair, a collinear-overlap pair and a
    parallel pair."""
    from geospatial_analysis_integrity_tool_spark.operators.intersections import (
        SEG_A,
        SEG_B,
        crossing_pairs,
        sql_proper_cross,
    )

    schema = "id long, ax double, ay double, bx double, by double"
    a = spark.createDataFrame(
        [
            (1, 0.5, 0.5, 3.5, 2.5),      # spans 4 x 3 cells
            (2, 5.0, 5.0, 7.0, 5.0),      # collinear overlap with 12
            (3, 5.0, 7.0, 7.0, 9.0),      # parallel to 13
            (4, 10.2, 10.2, 12.8, 10.4),  # crosses 14 in one of 3 cells
            (5, -3.7, -2.2, 9.3, 8.6),    # long diagonal: 13 x 11 bbox cells
            (6, 8.5, -1.0, 8.5, 12.0),    # vertical, 14 cells
        ],
        schema,
    ).withColumnRenamed("id", "id_a")
    b = spark.createDataFrame(
        [
            (10, 0.5, 2.5, 3.5, 0.5),     # crosses 1
            (11, 2.0, 1.5, 2.0, 3.5),     # ends on 1: touching, no crossing
            (12, 6.0, 5.0, 8.5, 5.0),
            (13, 5.0, 7.5, 7.0, 9.5),
            (14, 11.5, 9.5, 11.6, 11.5),
            (15, 4.0, -3.0, 4.0, 9.0),    # vertical: crosses 5 (as 10 and 11 do)
            (16, 7.0, 7.5, 9.5, 7.0),     # crosses 5 and 6
        ],
        schema,
    ).withColumnRenamed("id", "id_b")
    got = crossing_pairs(a, b, 1.0)
    assert set(got.columns) == {"id_a", "id_b", *SEG_A, *SEG_B}
    got = sorted(tuple(r) for r in got.select("id_a", "id_b").distinct().collect())

    def seg(names):
        return [F.col(c).alias(n) for c, n in zip(("ax", "ay", "bx", "by"), names)]

    brute = (
        a.select("id_a", *seg(SEG_A))
        .crossJoin(b.select("id_b", *seg(SEG_B)))
        .filter(F.expr(sql_proper_cross()))
        .select("id_a", "id_b")
    )
    assert got == sorted(tuple(r) for r in brute.collect()) == [
        (1, 10), (4, 14), (5, 10), (5, 11), (5, 15), (5, 16), (6, 16)
    ]


def _crossing_segments(spark):
    """Segments at 0.1 deg cells: crossings on grid lines and corners,
    vertical, horizontal and near-vertical segments, negative coordinates,
    long diagonals, and seeded random segments snapped to a 0.05 grid."""
    import random

    fixed = [
        (0.0, 0.0, 0.2, 0.2), (0.0, 0.2, 0.2, 0.0),            # cross on a corner
        (0.05, 0.3, 0.55, 0.3), (0.3, 0.05, 0.3, 0.55),        # grid-line cross
        (0.15, 0.45, 0.35, 0.15),                              # crosses y = 0.3 line
        (0.3, -0.7, 0.3 + 1e-12, 0.9), (0.1, 0.2, 0.5, 0.2),   # near-vertical
        (-0.35, -0.35, -0.05, -0.15), (-0.3, -0.1, -0.1, -0.4),
        (-1.23, -0.77, 2.41, 1.93), (2.4, -0.9, -1.1, 1.7),    # long diagonals
        (0.7, -1.0, 0.7, 1.0), (-1.0, 0.6, 1.0, 0.6),
    ]
    rng = random.Random(7)
    snap = [round(rng.uniform(-1.0, 1.0) / 0.05) * 0.05 for _ in range(480)]
    segs = fixed + list(zip(snap[0::4], snap[1::4], snap[2::4], snap[3::4]))
    return spark.createDataFrame(
        [(i, *s) for i, s in enumerate(segs)],
        "id long, ax double, ay double, bx double, by double",
    )


def test_path_cover_is_in_bbox_cover_and_meets_every_crossing(spark):
    """explode_path_cells covers a subset of explode_seg_cells' bbox cover,
    and every properly crossing pair (a cross join with sql_proper_cross)
    has a cell in both path covers."""
    from geospatial_analysis_integrity_tool_spark.operators.intersections import (
        SEG_A,
        SEG_B,
        sql_proper_cross,
    )
    from geospatial_analysis_integrity_tool_spark.operators.pip import (
        explode_path_cells,
        explode_seg_cells,
    )

    segs = _crossing_segments(spark)
    path = explode_path_cells(segs, 0.1).select("id", "cell")
    bbox = explode_seg_cells(segs, 0.1).select("id", "cell")
    assert path.subtract(bbox).count() == 0
    assert path.count() < bbox.count()

    def side(names, s):
        return segs.select(
            F.col("id").alias(f"id_{s}"),
            *[F.col(c).alias(n) for c, n in zip(("ax", "ay", "bx", "by"), names)],
        )

    crossing = (
        side(SEG_A, "a")
        .crossJoin(side(SEG_B, "b"))
        .filter((F.col("id_a") < F.col("id_b")) & F.expr(sql_proper_cross()))
        .select("id_a", "id_b")
    )
    shared = path.select(F.col("id").alias("id_a"), "cell").join(
        path.select(F.col("id").alias("id_b"), "cell"), "cell"
    )
    assert crossing.count() > 100
    assert crossing.join(shared, ["id_a", "id_b"], "left_anti").count() == 0


def test_segment_crossings_matches_brute_force(spark):
    """segment_crossings over lines whose segments span more than 4 cells
    (long diagonals, verticals, one line crossing many) finds exactly the
    properly crossing segment pairs of different lines, once each, with
    id_a < id_b and every carried column on both sides."""
    from geospatial_analysis_integrity_tool_spark.operators.intersections import (
        SEG_A,
        SEG_B,
        segment_crossings,
        segments_of_lines,
        sql_proper_cross,
    )

    segs = _crossing_segments(spark)
    lines = segs.select(
        (F.col("id") % 37).alias("line_id"),
        F.array("ax", "bx").alias("xs"),
        F.array("ay", "by").alias("ys"),
    )
    # 37 lines; one segment each per input row, zig-zagging between rows
    lines = lines.groupBy("line_id").agg(
        F.flatten(F.collect_list("xs")).alias("xs"),
        F.flatten(F.collect_list("ys")).alias("ys"),
    )
    s = segments_of_lines(lines).withColumn("tag", F.col("line_id") * 10)
    got = segment_crossings(s, 0.1)
    assert set(got.columns) == {"id_a", "seg_a", "tag_a", "id_b", "seg_b", "tag_b", *SEG_A, *SEG_B}
    rows = got.select("id_a", "seg_a", "id_b", "seg_b", "tag_a", "tag_b").collect()
    assert all(r.id_a < r.id_b and r.tag_a == 10 * r.id_a and r.tag_b == 10 * r.id_b for r in rows)
    pairs = sorted(tuple(r)[:4] for r in rows)

    def side(s_, names, n):
        return s_.select(
            F.col("line_id").alias(f"id_{n}"),
            F.col("seg_idx").alias(f"seg_{n}"),
            *[F.col(c).alias(m) for c, m in zip(("sax", "say", "sbx", "sby"), names)],
        )

    brute = (
        side(s, SEG_A, "a")
        .crossJoin(side(s, SEG_B, "b"))
        .filter((F.col("id_a") < F.col("id_b")) & F.expr(sql_proper_cross()))
        .select("id_a", "seg_a", "id_b", "seg_b")
    )
    assert len(pairs) > 200
    assert pairs == sorted(tuple(r) for r in brute.collect())


def test_renderers_bind_aliased_columns():
    """The crossing predicate, the intersection point and the ray-edge term
    rendered over aliased columns (l. / e.) agree row for row with their
    default-named rendering, over fixed segments that include a crossing, a
    parallel (zero-denominator) and a collinear pair."""
    import duckdb

    from geospatial_analysis_integrity_tool_spark.operators.intersections import (
        seg_cols,
        sql_intersection_xy,
        sql_proper_cross,
    )
    from geospatial_analysis_integrity_tool_spark.operators.pip import sql_ray_edge

    con = duckdb.connect()
    con.sql(
        "CREATE TABLE l AS SELECT * FROM (VALUES (1, 0.0, 0.0, 2.0, 2.0),"
        " (2, 0.0, 0.0, 2.0, 0.0), (3, 0.5, 0.5, 0.5, 1.5))"
        " t(id, ax, ay, bx, by)"
    )
    con.sql(
        "CREATE TABLE e AS SELECT * FROM (VALUES (1, 0.0, 2.0, 2.0, 0.0),"
        " (2, 0.0, 1.0, 2.0, 1.0), (3, 1.0, 0.0, 3.0, 0.0))"
        " t(id, ax, ay, bx, by)"
    )
    le = (seg_cols("l"), seg_cols("e"))
    ix, iy = sql_intersection_xy(*le)
    aliased = con.sql(
        f"SELECT l.id, e.id, {sql_proper_cross(*le)}, {ix}, {iy},"
        f" {sql_ray_edge('l.ax', 'l.ay', *seg_cols('e'))}"
        " FROM l, e ORDER BY 1, 2"
    ).fetchall()
    ix, iy = sql_intersection_xy()
    default = con.sql(
        f"SELECT id_a, id_b, {sql_proper_cross()}, {ix}, {iy},"
        f" {sql_ray_edge('px', 'py', 'ex1', 'ey1', 'ex2', 'ey2')}"
        " FROM (SELECT l.id AS id_a, e.id AS id_b,"
        " l.ax AS _ax, l.ay AS _ay, l.bx AS _bx, l.by AS _by,"
        " e.ax AS _cx, e.ay AS _cy, e.bx AS _dx, e.by AS _dy,"
        " l.ax AS px, l.ay AS py, e.ax AS ex1, e.ay AS ey1, e.bx AS ex2, e.by AS ey2"
        " FROM l, e) ORDER BY 1, 2"
    ).fetchall()
    assert aliased == default
    cross = {(a, b): (c, x, y) for a, b, c, x, y, _ in aliased}
    assert cross[(1, 1)] == (True, 1.0, 1.0)
    assert cross[(2, 2)][0] is False  # parallel: guarded denominator, no error
    assert cross[(2, 3)][0] is False  # collinear overlap is no proper crossing
    assert cross[(3, 2)][0] is True
    rays = {(a, b): r for a, b, *_, r in aliased}
    assert (rays[(3, 1)], rays[(3, 2)]) == (1, 0)  # eastward ray from (0.5, 0.5)


def test_proximity_planted(spark):
    """knn_prox_01 analogue: 1.5 m apart under 5 m tolerance."""
    from geospatial_analysis_integrity_tool_spark.operators.proximity import (
        point_proximity_pairs,
    )

    # ~1.5 m east at lat 40 is 1.5/ (111319.5*cos40) deg ~ 1.759e-5
    pts = spark.createDataFrame(
        [(1, 10.0, 40.0), (2, 10.0000176, 40.0), (3, 11.0, 40.0)],
        "site_id int, lon double, lat double",
    )
    rows = point_proximity_pairs(pts, tol_m=5.0, max_abs_lat_deg=41.0).collect()
    assert [(r.id_a, r.id_b) for r in rows] == [(1, 2)]
    assert 1000 < rows[0].dist_mm < 2000


def test_ann_topk_self_excluded_and_ranked(spark):
    from geospatial_analysis_integrity_tool_spark.operators.ann import cosine_topk

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [1.0, 0.01]),
        ],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") == 0)
    rows = cosine_topk(emb, q, k=2).collect()
    by_rank = {r.rank: r.neighbor_id for r in rows}
    assert by_rank == {1: 3, 2: 1}  # closest first, self excluded


def test_ann_query_side_is_bounded(spark, monkeypatch):
    """The ANN query side is collected with a row bound: a query set over
    MAX_QUERY_ROWS raises instead of being collected whole."""
    import pytest

    from geospatial_analysis_integrity_tool_spark.operators import ann

    emb = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(5)], "vec_id long, embedding array<double>"
    )
    monkeypatch.setattr(ann, "MAX_QUERY_ROWS", 3)
    with pytest.raises(ValueError, match="MAX_QUERY_ROWS = 3"):
        ann.cosine_topk(emb, emb, k=2)
    with pytest.raises(ValueError, match="MAX_QUERY_ROWS = 3"):
        ann.cosine_topk_ivf(emb, emb, k=2, nlist=2, nprobe=1)
    assert ann.cosine_topk(emb, emb.filter("vec_id < 3"), k=2).count() == 6


def test_entry_smoke(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    assert df.count() > 0
    assert df.columns == ["point_id", "zone_id", "fcode"]


def test_parallelism_invariance_flagship(spark):
    """Partition-count invariance (SURVEY.md §5.2 item 3): same conditions
    regardless of shuffle partitioning."""
    import __spark_entry__ as m

    a = {tuple(r) for r in m.queries()["geo_pip"](spark, SF_SMALL).collect()}
    b = {
        tuple(r)
        for r in m.queries()["geo_pip"](spark, SF_SMALL)
        .repartition(13)
        .collect()
    }
    assert a == b and len(a) > 0
