"""Multimodal metadata extraction into a partitioned lake.

No reference analog -- this demonstrates the media-column posture of the
engine: binary payloads with typed metadata, REAL header decode (PNG /
JPEG / WAV parsed from raw bytes, no image/audio libraries), and the
lake layout a 100 TB media corpus lands in (hive-partitioned by format,
clustered within partitions, dynamic-overwrite idempotent re-runs).
The same ops are oracle-checked as `multimodal_decode`,
`multimodal_audio` and `stream_multimodal_decode`.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from common import get_example_spark, show

SF_DIR = "/root/testdata/sf0.001"


def _main(spark, tmp: str):
    from async_stream_processing_spark.llm.multimodal import (
        decode_audio_header,
        decode_image_header,
        synth_image_payload,
        synth_wav_payload,
    )
    from async_stream_processing_spark.plans.scale import write_partitioned_lake
    from async_stream_processing_spark.sources.parquet import load_table

    docs = load_table(spark, SF_DIR, "documents")

    images = decode_image_header(synth_image_payload(docs))
    show(images, n=5, label="image headers parsed from raw bytes")

    audio = decode_audio_header(synth_wav_payload(docs))
    show(audio, n=5, label="WAV headers parsed from raw bytes")

    lake = tempfile.mkdtemp(prefix="media_lake_", dir=tmp)
    write_partitioned_lake(
        images, lake, partition_by=["format"], cluster_by=["width"],
    )
    # a format-scoped read prunes the other formats' directories entirely
    pngs = spark.read.parquet(lake).filter(F.col("format") == "png")
    show(
        pngs.groupBy("format").agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("width").alias("avg_width"),
        ),
        n=2, label="format-pruned lake readback",
    )
    return pngs.localCheckpoint()


def main(spark):
    with tempfile.TemporaryDirectory(prefix="e12_") as tmp:
        return _main(spark, tmp)


if __name__ == "__main__":
    main(get_example_spark())
