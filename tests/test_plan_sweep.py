"""Registry-wide plan invariants: every one of the ~90 queries must
stay on the JVM expression path unless it is an explicitly-declared
Pandas-UDF operator. This is the executable form of 'UDFs are the slow
path' — any future query (or refactor of a shared helper) that silently
drops into row-at-a-time Python fails here before it ever reaches the
bench."""

from __future__ import annotations

import pytest

from nyc_landmarks_datalake_spark import registry
from nyc_landmarks_datalake_spark.plans.audit import audit

registry.load_all()

#: operators whose POINT is Arrow-batched Python (declared Pandas-UDF
#: surface); everything else must be pure JVM.
PYTHON_ALLOWED = {
    "q_pandas_udf_score",
    "q_grouped_agg_udf",
    "q_multimodal_features",
    "q_image_decode_stats",
    "q_png_decode_stats",  # r7: real PNG decode (zlib+numpy mapInPandas)
    "q_gif_decode_stats",  # r7: real GIF decode (from-scratch LZW)
    "q_gif_frame_sample",  # r8: real animated-GIF multi-frame decode
    "q_jpeg_decode_stats",  # r7: real baseline JPEG decode (huffman+IDCT)
    "q_wav_decode_stats",  # r7: real WAV PCM decode (struct+numpy)
    "q_image_resize_stats",  # r7: real NN pixel resize of decoded payloads
    "q_udtf_top_bigrams",  # r7: Python UDTF surface (lateral table function)
    "q_grouped_map_rank",  # r7: applyInPandas grouped-map surface
    "q_arrow_map_counts",  # r7: mapInArrow surface (Arrow compute kernels)
    "q_video_decode_stats",  # r10: real MJPEG-AVI container+frame decode
}
# q_stateful_user_profiles is Python-path too (applyInPandasWithState),
# but its Python stage runs inside the eager streaming replay; the
# RETURNED plan starts from the replay's materialized output (a
# localCheckpoint scan, JVM-only), which is what audit() sees — so it
# takes the default JVM-only branch below.
# q_image_phash_dedup likewise: its mapInPandas decode sits behind the
# anti-GenerateExec localCheckpoint boundary, so the audited plan shows
# only the JVM banded join over the checkpointed signatures.


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_jvm_only_unless_declared(spark, sf_small, name):
    df = registry.QUERIES[name](spark, sf_small)
    a = audit(df)
    if name in PYTHON_ALLOWED:
        assert a.has_python_eval, f"{name} is declared Pandas-UDF but plans JVM-only"
    else:
        assert not a.has_python_eval, f"{name} fell off the JVM path"


def test_every_query_reads_some_scan_schema(spark, sf_small):
    # cheap sanity that audit() itself parses plans across the corpus
    # (q_dup_clusters/q_sequence_pack are excluded: their localCheckpoint
    # leaves are RDD scans with no file ReadSchema)
    sampled = ["q01_pricing_summary", "q_cdc_keep_latest", "q_token_len_histogram"]
    for name in sampled:
        a = audit(registry.QUERIES[name](spark, sf_small))
        assert a.read_schemas, name
