"""End-node connection-count / sequence / join-slope checks (SURVEY.md §2.10
breadth; the last three unimplemented connectivity codes).

Reference semantics (linear connectivity block geomchecks.c:23806-24040,
27024-27240):

* ENCONNECT 58 — "linear end node connectivity" (errors.c:11497): per line
  END node, count end nodes of OTHER lines exactly coincident in (x, y, z) —
  z equality waived when either value is a sentinel (geomchecks.c:23833-23843,
  IsSentinelZvalue TT.c:1589) — and flag the node when the count falls inside
  the check's CLOSEDINT band (SensitivityCheck geomchecks.c:23857).  This
  engine uses the band [3, 99]: over-connected junctions.
* BADENCON 62 — "bad sequence on line feature connections"
  (geomchecks.c:23934-24009): per end node, count other-line end nodes within
  3-D distance <= sensitivity; the condition fires when there is EXACTLY one
  connection and it pairs start-with-start or end-with-end
  (nodeindex==0 && nindex==0, or both > 0 — the digitizing-direction bust).
* LJOINSLOPEDC 90 — "slope direction change along linear at a join"
  (geomchecks.c:27024-27240): at a line's last node, another line joins with
  exact (x, y, z) match at its first or last vertex; the elevation profile
  continues into the joining feature's adjacent vertex, and the condition is
  a slope-sign flip across the join.

Fixture ``net`` (derived in-query from orders; shared SQL text for both
engines): lines connect nodes of a 224x224 lattice over the [10,13.2)^2-ish
window; most endpoints hash to a 49,957-node space (sparse: degree ~1 at
sf0.01 -> BADENCON singles), while every 41st/43rd line lands on one of 64
hub nodes (dense -> ENCONNECT over-connection).  Node z is a pure function
of node id, so joined ends agree on z by construction; plants: every 17th
line offsets its start z by +0.25 (breaks exact-z coincidence but stays
within the 1 m BADENCON sphere), every 19th uses the -32767 NUNANPO sentinel
(x,y-only match per the reference's sentinel waiver).

Spark-first shape: one narrow ends frame, a single hash self-join on the
quantized micro-degree node key (the AddEdgesToNetwork key, TT.c:54437),
then groupBy counts — no distance joins, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.geodesy import sql_dist_m

ENCON_LO, ENCON_HI = 3, 99   # CLOSEDINT band: over-connected junction
BADENCON_TOL_M = 1.0         # 3-D connection sphere

# --- the net fixture (shared verbatim by both engines) --------------------------
# node coords / z are pure integer functions of the node id.
_NX = "(10.0 + CAST((({n}) % 224) * 14 AS DOUBLE) / 1000.0)"
_NY = "(40.0 + CAST(CAST(floor(({n}) / 224.0) AS BIGINT) * 14 AS DOUBLE) / 1000.0)"
_NZ = "(CAST((({n}) * 13) % 200 AS DOUBLE) / 2.0)"

_NA = (
    "CASE WHEN o_orderkey % 41 = 0 THEN (o_orderkey * 7) % 64"
    " ELSE 64 + ((o_orderkey * 7919) % 49957) END"
)
_NB = (
    "CASE WHEN o_orderkey % 43 = 0 THEN (o_orderkey * 11) % 64"
    " ELSE 64 + ((o_orderkey * 6997 + 3) % 49957) END"
)

_NET = f"""
SELECT
  o_orderkey AS line_id,
  {_NX.format(n=_NA)} AS ax, {_NY.format(n=_NA)} AS ay,
  CASE WHEN o_orderkey % 19 = 0 THEN -32767.0
       WHEN o_orderkey % 17 = 0 THEN {_NZ.format(n=_NA)} + 0.25
       ELSE {_NZ.format(n=_NA)} END AS az,
  {_NX.format(n=_NB)} AS bx, {_NY.format(n=_NB)} AS by,
  {_NZ.format(n=_NB)} AS bz
FROM orders
"""

# end-node long form: which = 0 (start) / 1 (end), quantized node key
_ENDS = """
SELECT line_id, 0 AS which, ax AS x, ay AS y, az AS z,
       CAST(floor(ax * 1000000.0) AS BIGINT) AS ux,
       CAST(floor(ay * 1000000.0) AS BIGINT) AS uy
FROM net
UNION ALL
SELECT line_id, 1, bx, by, bz,
       CAST(floor(bx * 1000000.0) AS BIGINT),
       CAST(floor(by * 1000000.0) AS BIGINT)
FROM net
"""

_SENT = "((({z} >= -32768.0 AND {z} <= -32764.0) OR {z} = -50000.0))"

# exact-coincidence predicate with the sentinel waiver (geomchecks.c:23833)
_COINC = (
    "a.x = b.x AND a.y = b.y AND ("
    + _SENT.format(z="a.z")
    + " OR "
    + _SENT.format(z="b.z")
    + " OR a.z = b.z)"
)


def _register(spark: SparkSession) -> None:
    spark.sql(_NET).createOrReplaceTempView("net")
    spark.sql(_ENDS).createOrReplaceTempView("net_ends")


def q_en_connect_seq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark)
    d3 = (
        f"sqrt(pow({sql_dist_m('a.x', 'a.y', 'b.x', 'b.y')}, 2)"
        " + pow(a.z - b.z, 2))"
    )
    return spark.sql(
        f"""
        WITH pairs AS (
          SELECT a.line_id, a.which, a.z,
                 b.line_id AS line_id2, b.which AS which2, b.z AS z2,
                 ({_COINC}) AS coinc,
                 ({d3} <= {BADENCON_TOL_M}) AS near3d
          FROM net_ends a JOIN net_ends b
            ON a.ux = b.ux AND a.uy = b.uy AND a.line_id <> b.line_id
        ),
        encon AS (
          SELECT line_id, which, COUNT(*) AS n_conn
          FROM pairs WHERE coinc
          GROUP BY line_id, which
          HAVING COUNT(*) >= {ENCON_LO} AND COUNT(*) <= {ENCON_HI}
        ),
        badencon AS (
          SELECT line_id, which,
                 COUNT_IF(near3d) AS n_conn,
                 COUNT_IF(near3d AND ((which = 0 AND which2 = 0)
                                   OR (which > 0 AND which2 > 0))) AS n_like
          FROM pairs
          GROUP BY line_id, which
          HAVING COUNT_IF(near3d) = 1
             AND COUNT_IF(near3d AND ((which = 0 AND which2 = 0)
                                   OR (which > 0 AND which2 > 0))) = 1
        )
        SELECT line_id, CAST(which AS INT) AS which,
               'ENCONNECT' AS errtype, CAST(n_conn AS DOUBLE) AS magnitude
        FROM encon
        UNION ALL
        SELECT line_id, CAST(which AS INT), 'BADENCON', CAST(n_conn AS DOUBLE)
        FROM badencon
        """
    )


_D3_DUCK = (
    f"sqrt(pow({sql_dist_m('a.x', 'a.y', 'b.x', 'b.y')}, 2)"
    " + pow(a.z - b.z, 2))"
)

ORACLE_EN_CONNECT_SEQ = f"""
WITH net AS MATERIALIZED ({_NET}),
net_ends AS MATERIALIZED ({_ENDS}),
pairs AS (
  SELECT a.line_id, a.which,
         b.line_id AS line_id2, b.which AS which2,
         ({_COINC}) AS coinc,
         ({_D3_DUCK} <= {BADENCON_TOL_M}) AS near3d
  FROM net_ends a JOIN net_ends b
    ON a.ux = b.ux AND a.uy = b.uy AND a.line_id <> b.line_id
)
SELECT line_id, CAST(which AS INT) AS which,
       'ENCONNECT' AS errtype, CAST(COUNT(*) AS DOUBLE) AS magnitude
FROM pairs WHERE coinc
GROUP BY line_id, which
HAVING COUNT(*) BETWEEN {ENCON_LO} AND {ENCON_HI}
UNION ALL
SELECT line_id, CAST(which AS INT), 'BADENCON',
       CAST(COUNT(*) FILTER (near3d) AS DOUBLE)
FROM pairs
GROUP BY line_id, which
HAVING COUNT(*) FILTER (near3d) = 1
   AND COUNT(*) FILTER (near3d AND ((which = 0 AND which2 = 0)
                                 OR (which > 0 AND which2 > 0))) = 1
"""


def q_ljoinslopedc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slope-sign flip where one net line's END joins another line's end node.

    Incoming slope = bz - az of the ending line; outgoing = z(adjacent vertex
    of the joining feature) - z(join node), exact (x, y, z) node match per
    geomchecks.c:27096-27133.  Sentinel-z ends never join (z equality is
    required here, unlike ENCONNECT's waiver).
    """
    _register(spark)
    return spark.sql(
        f"""
        SELECT a.line_id, b.line_id AS join_line_id,
               CAST(b.which AS INT) AS join_which,
               (b.z2adj - b.z) AS out_slope
        FROM (SELECT line_id, bx AS x, by AS y, bz AS z, bz - az AS in_slope
              FROM net
              WHERE NOT {_SENT.format(z='bz')} AND NOT {_SENT.format(z='az')}
             ) a
        JOIN (SELECT line_id, 0 AS which, ax AS x, ay AS y, az AS z, bz AS z2adj
              FROM net WHERE NOT {_SENT.format(z='az')}
              UNION ALL
              SELECT line_id, 1, bx, by, bz, az FROM net
              WHERE NOT {_SENT.format(z='bz')}
             ) b
          ON a.x = b.x AND a.y = b.y AND a.z = b.z AND a.line_id <> b.line_id
        WHERE a.in_slope * (b.z2adj - b.z) < 0.0
        """
    )


ORACLE_LJOINSLOPEDC = f"""
WITH net AS MATERIALIZED ({_NET})
SELECT a.line_id, b.line_id AS join_line_id,
       CAST(b.which AS INT) AS join_which,
       (b.z2adj - b.z) AS out_slope
FROM (SELECT line_id, bx AS x, by AS y, bz AS z, bz - az AS in_slope
      FROM net
      WHERE NOT {_SENT.format(z='bz')} AND NOT {_SENT.format(z='az')}
     ) a
JOIN (SELECT line_id, 0 AS which, ax AS x, ay AS y, az AS z, bz AS z2adj
      FROM net WHERE NOT {_SENT.format(z='az')}
      UNION ALL
      SELECT line_id, 1, bx, by, bz, az FROM net
      WHERE NOT {_SENT.format(z='bz')}
     ) b
  ON a.x = b.x AND a.y = b.y AND a.z = b.z AND a.line_id <> b.line_id
WHERE a.in_slope * (b.z2adj - b.z) < 0.0
"""

QUERIES = {
    "geo_en_connect_seq_checks": q_en_connect_seq_checks,
    "geo_ljoinslopedc": q_ljoinslopedc,
}

ORACLES = {
    "geo_en_connect_seq_checks": ORACLE_EN_CONNECT_SEQ,
    "geo_ljoinslopedc": ORACLE_LJOINSLOPEDC,
}
