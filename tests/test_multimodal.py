"""Multimodal plumbing tests: the per-row codec functions run through
``_util.map_rows`` over Arrow batches with the declared schemas; decoders
that need an external library (WebP) are marked stubs."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from omnidata_etl_spark.catalog import table
from omnidata_etl_spark.queries import _util, multimodal
from omnidata_etl_spark.queries.multimodal import (
    FEATURE_SCHEMA,
    assets_from_documents,
    decode_image,
    extract_features,
    fake_features,
)


def test_library_needing_decodes_are_marked_stubs():
    # PNG decodes for real since r6 (zlib+numpy), GIF since r7 (LZW),
    # JPEG since r10 (T.81 baseline) — malformed payloads of the real
    # formats are ValueErrors from the real decoders, not stubs; WebP
    # stays library-gated behind NotImplementedError.
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF....WEBPVP8 ")
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0...")
    with pytest.raises(ValueError):
        decode_image(b"GIF89a...")


def test_fake_features_deterministic():
    assert fake_features(b"abc") == fake_features(b"abc")
    assert fake_features(None) == [0.0, 0.0, 0.0, 0.0]
    assert fake_features(b"") == [0.0, 0.0, 0.0, 0.0]


def test_feature_extraction_pipeline(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").limit(50)
    assets = assets_from_documents(docs)
    assert dict(assets.dtypes)["payload"] == "binary"
    feats = extract_features(assets)
    assert feats.schema == FEATURE_SCHEMA
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert r["media_type"] in ("image", "audio", "video")
        assert r["n_bytes"] > 0
        assert len(r["feature"]) == 4
        assert r["feature"][0] == float(r["n_bytes"])  # stub contract


def test_grouped_minmax_arrow_equals_pandas_and_window(spark, sf_dir):
    """The registered applyInArrow form, its applyInPandas twin, and the
    window-expression scale path must agree row-for-row (min/max over 2dp
    values are exact; the division is one fixed double op in all three)."""
    from omnidata_etl_spark.queries.multimodal import (
        grouped_minmax_scale_arrow,
        grouped_minmax_scale_pandas_form,
        grouped_minmax_scale,
    )

    def as_map(df):
        return {r["event_id"]: r["scaled"] for r in df.collect()}

    arrow = as_map(grouped_minmax_scale_arrow(spark, sf_dir))
    pandas = as_map(grouped_minmax_scale_pandas_form(spark, sf_dir))
    window = as_map(grouped_minmax_scale(spark, sf_dir))
    assert arrow == pandas == window
    assert len(arrow) > 0


def test_binary_assets_ingest_self_evidencing(spark, sf_dir):
    """binaryFile-source ingestion: every staged PPM must decode to its
    filename-declared dimensions and re-encode byte-identically, proven by
    the query's own decode_ok_all output column."""
    from omnidata_etl_spark.registry import all_specs

    row = all_specs()["ingest_binary_assets"].fn(spark, sf_dir).collect()[0]
    assert row["n_assets"] == 24
    assert row["decode_ok_all"] is True
    assert row["n_shapes"] == 6
    assert row["total_bytes"] > 0


def test_frame_sample_real_gif_animation(spark, sf_dir):
    """r8/r9: multimodal_frame_sample decodes REAL animated GIFs with
    TIME-BASED sampling (one frame per every_ms of animation time, read
    from the GIF's own graphic-control delays). Every video asset must
    sample min(4, src_frames) frames at the query's every_ms=100 on the
    100 ms synth animations, every sampled frame must re-decode to the
    animation's dims (frames_ok — the query's own self-evidence), and the
    sampled bytes must be standalone images whose pixels match the source
    animation's time-selected frames."""
    import numpy as np

    from omnidata_etl_spark.codecs import (
        decode_gif_frames_with_delays,
        decode_image,
    )
    from omnidata_etl_spark.queries.multimodal import (
        _synth_animation_payload,
        sample_frames,
    )
    from omnidata_etl_spark.registry import all_specs

    rows = all_specs()["multimodal_frame_sample"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["frames_ok"] is True
        assert r["n_frames"] == min(4, r["src_frames"])

    # unit-level: every_ms is honored against the GIF's own delays
    payload = _synth_animation_payload(5, "hello frame sampler")  # 4 frames
    src, delays = decode_gif_frames_with_delays(payload)
    assert len(src) == 4 and delays == [10, 10, 10, 10]  # 100 ms each

    # every_ms == frame period: frames 0,1,2,3
    sampled = sample_frames(payload, every_ms=100)
    assert len(sampled) == 4
    for frame_bytes, p in zip(sampled, [0, 1, 2, 3]):
        assert np.array_equal(decode_image(frame_bytes), src[p])

    # every_ms == 2x frame period: the frames displayed at 0 ms and 200 ms
    sampled2 = sample_frames(payload, every_ms=200)
    assert len(sampled2) == 2
    for frame_bytes, p in zip(sampled2, [0, 2]):
        assert np.array_equal(decode_image(frame_bytes), src[p])

    # every_ms beyond the animation's 400 ms duration: first frame only
    sampled3 = sample_frames(payload, every_ms=1000)
    assert len(sampled3) == 1
    assert np.array_equal(decode_image(sampled3[0]), src[0])

    # non-GIF media keeps the documented byte-slice stub
    stub = sample_frames(b"\x00\x01" * 40)
    assert all(isinstance(s, bytes) for s in stub) and len(stub) >= 1


def test_dhash64_format_invariant_and_discriminative():
    """dHash must be identical across lossless re-encodes of the same
    pixels (the property the planted cross-format twins rely on) and
    differ for visibly different images."""
    import numpy as np

    from omnidata_etl_spark.codecs import (
        decode_image,
        encode_bmp,
        encode_png,
        encode_ppm,
    )
    from omnidata_etl_spark.queries.multimodal import dhash64

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (12, 16, 3), dtype=np.uint8)
    h0 = dhash64(img)
    for enc in (encode_ppm, encode_bmp, encode_png):
        assert dhash64(decode_image(enc(img))) == h0
    other = rng.integers(0, 256, (12, 16, 3), dtype=np.uint8)
    assert dhash64(other) != h0
    # signed-long contract: fits a Spark LongType either sign
    assert -(1 << 63) <= h0 < (1 << 63)


def test_image_phash_planted_twins_all_detected(spark, sf_dir):
    from omnidata_etl_spark.registry import all_specs

    row = all_specs()["multimodal_image_phash"].fn(spark, sf_dir).collect()[0]
    assert row.planted_match_rate == 1.0
    assert row.n_dup_groups >= 20  # one bucket per planted twin, minimum


def test_audio_landmarks_gain_invariant_and_discriminative():
    import numpy as np

    from omnidata_etl_spark.queries.multimodal import audio_landmarks

    t = np.arange(256)
    mel = np.concatenate(
        [np.sin(2 * np.pi * k * t / 256.0) * 0.8 * 32767 for k in (7, 23, 40)]
    ).astype(np.int16)
    lm = audio_landmarks(mel)
    assert lm == [7 * 256 + 23, 23 * 256 + 40]
    half = (mel.astype(np.float64) * 0.5).astype(np.int16)
    assert audio_landmarks(half) == lm  # gain invariance
    other = np.concatenate(
        [np.sin(2 * np.pi * k * t / 256.0) * 0.8 * 32767 for k in (9, 23, 40)]
    ).astype(np.int16)
    assert audio_landmarks(other) != lm
    assert audio_landmarks(np.zeros(10, dtype=np.int16)) == []


def test_audio_fingerprint_planted_twins_all_detected(spark, sf_dir):
    from omnidata_etl_spark.registry import all_specs

    row = (
        all_specs()["multimodal_audio_fingerprint"].fn(spark, sf_dir).collect()[0]
    )
    assert row.planted_match_rate == 1.0
    assert row.n_twins == 20


def test_video_scene_cut_all_detected(spark, sf_dir):
    from omnidata_etl_spark.registry import all_specs

    row = (
        all_specs()["multimodal_video_scene_cut"].fn(spark, sf_dir).collect()[0]
    )
    assert row.cut_detect_rate == 1.0
    assert row.max_cuts_per_asset == 1


# -- map_rows: the one per-row Arrow map helper --------------------------------


def _out_schema():
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(
        T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("vec", T.ArrayType(T.DoubleType())),
                T.StructField("blob", T.BinaryType()),
                T.StructField("k", T.IntegerType()),
            ]
        )
    )


def _fan(id_, blob):
    """0, 1 or 3 output rows per input row; a NULL blob after the first."""
    for k in range((0, 1, 3)[id_ % 3]):
        yield id_, [float(id_), k / 2], blob if k == 0 else None, k


def _expected(ids, blobs):
    return [out for row in zip(ids, blobs) for out in _fan(*row)]


@pytest.mark.parametrize(
    "cuts",
    [
        [],  # one batch
        [0, 0, 1, 1, 8, 8, 13, 20, 20],  # 0-row batches at both ends and inside
        [3, 4, 5, 11, 19],  # last batch non-empty, one row long
    ],
)
def test_rows_to_batches_is_batch_invariant(cuts):
    """The worker loop of map_rows, driven without Spark: the same 20 rows
    as one batch and as many (0-row batches included) give the same typed
    rows, one output batch per input batch."""
    import pyarrow as pa

    schema = _out_schema()
    ids = list(range(20))
    blobs = [bytes([i]) * i for i in ids]
    whole = pa.RecordBatch.from_pydict(
        {"id": pa.array(ids, pa.int64()), "blob": pa.array(blobs, pa.binary())}
    )
    bounds = [0, *cuts, len(ids)]
    batches = [whole.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]
    out = list(_util.rows_to_batches(iter(batches), _fan, schema))
    assert len(out) == len(batches)
    for b_in, b_out in zip(batches, out):
        assert b_out.schema == schema
        if b_in.num_rows == 0:
            assert b_out.num_rows == 0
    got = pa.Table.from_batches(out, schema=schema)
    assert [tuple(r.values()) for r in got.to_pylist()] == _expected(ids, blobs)
    assert got.schema.field("id").nullable is False
    assert got.column("vec").type == pa.list_(pa.float64())
    assert got.column("blob").type == pa.binary()
    assert got.column("k").type == pa.int32()


def test_map_rows_empty_frame_keeps_declared_schema(spark):
    from pyspark.sql.types import _parse_datatype_string

    ddl = "id long not null, vec array<double>, blob binary, k int"
    empty = spark.range(0).selectExpr("id", "cast(string(id) as binary) AS blob")
    out = _util.map_rows(empty, _fan, ddl)
    assert out.collect() == []
    assert out.schema == _parse_datatype_string(ddl)


#: the multimodal queries whose per-row work runs through map_rows
_MAP_ROWS_OPS = (
    "multimodal_feature_extract",
    "multimodal_frame_sample",
    "multimodal_image_decode_stats",
    "multimodal_image_resize",
    "multimodal_audio_stats",
    "ingest_binary_assets",
    "multimodal_image_phash",
    "multimodal_audio_fingerprint",
    "multimodal_video_scene_cut",
)

_ARROW_MAP = re.compile(r"\b(?:Python)?MapInArrow\b")


def _python_maps(df) -> tuple[int, int]:
    # the physical plan before AQE: once a frame has run, the adaptive plan
    # prints each node twice (final and initial plan)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    return len(_ARROW_MAP.findall(plan)), plan.count("MapInPandas")


@pytest.mark.parametrize("name", _MAP_ROWS_OPS)
def test_multimodal_op_plans_one_arrow_map(spark, sf_dir, monkeypatch, name):
    """Each op builds exactly one map_rows frame, which plans one Arrow map
    node and no MapInPandas; the query's own plan adds no other Python map
    (the checkpointed ops hold none: their map ran at build time)."""
    from omnidata_etl_spark.registry import all_specs

    built = []

    def recording(df, fn, schema):
        built.append(_util.map_rows(df, fn, schema))
        return built[-1]

    monkeypatch.setattr(multimodal, "map_rows", recording)
    # build the audio landmark frame afresh instead of taking the memo's
    monkeypatch.setattr(multimodal, "table_memo", lambda s, sf, t, k, build: build())
    df = all_specs()[name].fn(spark, sf_dir)
    assert len(built) == 1
    assert _python_maps(built[0]) == (1, 0)
    arrow, pandas = _python_maps(df)
    assert arrow <= 1 and pandas == 0


def test_map_in_arrow_called_only_from_util():
    """Query modules reach mapInArrow through map_rows only: a site that
    hand-rolls its own batch loop again shows up here."""
    queries = Path(_util.__file__).parent
    callers = sorted(
        p.name for p in queries.glob("*.py") if "mapInArrow(" in p.read_text()
    )
    assert callers == ["_util.py"]
