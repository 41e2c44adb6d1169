"""The PNG header walk (probe_dims) reports the same dims as the full
decode (png_decode_stats) on the same payloads.
"""

from __future__ import annotations

from retail_aws_etl_pipeline_spark.session import load_tables
from tests.conftest import SF_ORACLE


def test_png_header_walk_matches_full_decode_dims(spark):
    """probe_dims' PNG IHDR walk reports the same (width, height) the
    full zlib decode proves on the SAME payloads — png_decode_stats is
    the strictly harder registered carrier of the PNG dims surface."""
    from retail_aws_etl_pipeline_spark.operators import multimodal as MM

    ids = (
        load_tables(spark, SF_ORACLE, ["documents"])["documents"]
        .select("doc_id")
        .limit(50)
    )
    media = MM.synth_png_media(ids, "doc_id").persist()
    try:
        probed = {
            r.media_id: (r.format, r.width, r.height)
            for r in MM.probe_dims(media).collect()
        }
        decoded = {
            r.media_id: (r.width, r.height)
            for r in MM.decode_png_stats(media).collect()
        }
        assert probed and set(probed) == set(decoded)
        for mid, (fmt, w, h) in probed.items():
            assert fmt == "png"
            assert (w, h) == decoded[mid], (mid, (w, h), decoded[mid])
    finally:
        media.unpersist()
