"""LSR (Local Space Rectangular, coordinate system 14) frame properties.

The LSR ingest is a passthrough into the planar measurement frame
(Ctype() SEEIT_API.c:115 returns 2 for systems 14/15/16; TTformat.c:28441
names the flag).  Because the fixture's LSR frame is an isometry (rotation
+ translation) of the projected-unit frame used by the *_euclidean
variants, check RESULTS must be frame-invariant even though every
coordinate differs — the strongest cheap property the oracle gate itself
cannot express (it only compares one frame against its own twin).
"""

from __future__ import annotations

from geospatial_analysis_integrity_tool_spark.queries.geometry import (
    q_geo_prox_pairs_euclidean,
)
from geospatial_analysis_integrity_tool_spark.queries.lsrq import (
    q_lsr_feat_length,
    q_lsr_prox_planar,
)
from geospatial_analysis_integrity_tool_spark.queries.morechecks import (
    q_feat_length_euclidean,
)
from geospatial_analysis_integrity_tool_spark.sources.synthetic import (
    register_geo_views,
)

from tests.conftest import SF_SMALL

SF_GATE = "/root/testdata/sf0.01"  # prox band is empty at sf0.001


def test_lsr_prox_pairs_match_unrotated_frame(spark):
    """The pair SET is isometry-invariant (distances are preserved exactly
    up to ulps far from the tolerance boundary in this fixture)."""
    register_geo_views(spark, SF_GATE)
    lsr = {
        (r.id_a, r.id_b) for r in q_lsr_prox_planar(spark, SF_GATE).collect()
    }
    eu = {
        (r.id_a, r.id_b)
        for r in q_geo_prox_pairs_euclidean(spark, SF_GATE).collect()
    }
    assert lsr == eu
    assert lsr  # non-vacuous


def test_lsr_lengths_classify_like_unrotated_frame(spark):
    """SHORT/LONGFEAT classification is rotation-stable: same feature ids,
    same errtypes, and per-line length within a few mm-units of the projected
    frame (floor boundaries may differ by an ulp per segment, so the bound is per-line segment-count-ish)."""
    register_geo_views(spark, SF_SMALL)
    lsr = {
        r.line_id: (r.errtype, r.len_mu)
        for r in q_lsr_feat_length(spark, SF_SMALL).collect()
    }
    eu = {
        r.line_id: (r.errtype, r.len_mu)
        for r in q_feat_length_euclidean(spark, SF_SMALL).collect()
    }
    assert set(lsr) == set(eu)
    assert lsr
    for lid, (et, mu) in lsr.items():
        et2, mu2 = eu[lid]
        assert et == et2
        assert abs(mu - mu2) <= 16
