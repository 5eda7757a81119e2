"""Empty and all-NULL input through every media generator and kernel:
each returns its declared schema and never raises. Pins the dtype
rule of `multimodal.map_rows` — a batch whose kernel calls yield
nothing, or only NULLs, converts to Arrow like a full one."""

from __future__ import annotations

import struct

import pytest

from ethereum_export_pipeline_spark.operators import multimodal as MM

DOCS = "doc_id long, text string"
PAYLOAD = "media_id long, payload binary"
HASHES = "media_id long, hash_hi long, hash_lo long"
GROUPS = HASHES + ", n_copies long, keep_id long"

# name -> (function, declared output schema, rows out per bad input
# row: 1 for row-preserving functions, 0 for fan-out kernels)
GENERATORS = {
    "ppm": (MM.documents_as_ppm_media, MM.MEDIA_SCHEMA, 1),
    "jpeg": (MM.documents_as_jpeg_media, MM.MEDIA_SCHEMA, 1),
    "png": (MM.documents_as_png_media, MM.MEDIA_SCHEMA, 1),
    "wav": (MM.documents_as_wav_media, PAYLOAD, 1),
    "video": (MM.documents_as_video_media, PAYLOAD, 1),
}
KERNELS = {
    "extract_features": (MM.extract_features, MM.FEATURE_SCHEMA, 1),
    "resize_media": (MM.resize_media, "media_id long, payload binary, "
                     "width int, height int, n_bytes long", 1),
    "extract_audio_features": (MM.extract_audio_features,
                               MM.AUDIO_FEATURE_SCHEMA, 1),
    "audio_silence_runs": (MM.audio_silence_runs, MM.VAD_SCHEMA, 1),
    "resample_audio": (MM.resample_audio, PAYLOAD, 1),
    "sample_frames": (MM.sample_frames, MM.FRAME_SCHEMA, 0),
    "ahash_images": (MM.ahash_images, HASHES, 0),
    "audio_fingerprint_groups": (MM.audio_fingerprint_groups, GROUPS, 0),
    "patch_grid_stats": (MM.patch_grid_stats,
                         "media_id long, patch_row long, patch_col long, "
                         "n_px long, sum_r long, sum_g long, sum_b long, "
                         "mean_gray long", 0),
    "video_frame_hashes": (MM.video_frame_hashes, "media_id long, "
                           "frame_idx long, hash_hi long, hash_lo long", 0),
    "scene_cuts": (MM.scene_cuts, MM.CUT_SCHEMA, 0),
}

# NULL text and empty text; NULL, empty and undecodable payloads —
# the last a well-formed 1×1 24-bit BMP, a format no codec here reads
BAD_DOCS = [(1, None), (2, "")]
BMP_1PX = (b"BM" + struct.pack("<IHHI", 58, 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, 4,
                         2835, 2835, 0, 0) + b"\x00\x00\xff\x00")
BAD_MEDIA = [(1, None, None), (2, b"", None),
             (3, b"P6\n8 8\n255\ntruncated", ("image/x", 22, None, None)),
             (4, b"RIFF\x00\x00\x00\x00WAVEjunk" * 4, None),
             (5, BMP_1PX, None)]


def _simple(schema) -> str:
    from pyspark.sql.types import StructType
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return schema.simpleString()


@pytest.mark.parametrize("case", ["zero_rows", "null_or_bad"])
@pytest.mark.parametrize("name", [*GENERATORS, *KERNELS])
def test_media_function_empty_input(spark, name, case):
    if name in GENERATORS:
        fn, schema, per_row = GENERATORS[name]
        rows, in_schema = BAD_DOCS, DOCS
    else:
        fn, schema, per_row = KERNELS[name]
        rows, in_schema = BAD_MEDIA, MM.MEDIA_SCHEMA
    if case == "zero_rows":
        rows = []
    out = fn(spark.createDataFrame(rows, in_schema))
    assert out.schema.simpleString() == _simple(schema)
    assert len(out.collect()) == per_row * len(rows)


def test_bad_payloads_decode_to_none():
    assert all(MM.decode_image(p) is None for _, p, _ in BAD_MEDIA)
