"""Additional coverage: ntile/lag-lead windows, multimodal plumbing through
the driver gate, and a lazily-chained two-stage MapReduce."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from appengine_mapreduce_spark.plans.registry import register
from appengine_mapreduce_spark.plans.tables import load


@register(
    "customer_balance_quartiles",
    oracle="""
        SELECT c_custkey,
               ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile,
               lag(c_custkey) OVER (ORDER BY c_acctbal, c_custkey) AS prev_cust,
               lead(c_custkey) OVER (ORDER BY c_acctbal, c_custkey) AS next_cust
        FROM customer
    """,
    description="ntile/lag/lead analytic windows over a deterministic "
    "global order — completes the window-function surface (global windows "
    "single-partition: fine for dimension tables, never for facts).",
    tags=("analytics", "window"),
)
def customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.lag("c_custkey").over(w).alias("prev_cust"),
        F.lead("c_custkey").over(w).alias("next_cust"),
    )


@register(
    "multimodal_decode_stub",
    # Even the STUB path is oracle-checkable: its deterministic fake is
    # md5-derived (width = 16 + digest[0] % 64, feature[0] = digest[0]/255
    # as float32), and DuckDB's md5() over the same utf-8 bytes replays it
    # byte for byte. round(6) absorbs the float32 storage of features.
    oracle="""
        SELECT count(*) AS n_decoded,
               CAST(min(16 + b0 % 64) AS INT) AS min_w,
               CAST(max(16 + b1 % 64) AS INT) AS max_h,
               round(avg(CAST(CAST(b0 / 255.0 AS FLOAT) AS DOUBLE)), 6)
                   AS mean_f0
        FROM (
            SELECT ('0x' || substr(md5(text), 1, 2))::INT AS b0,
                   ('0x' || substr(md5(text), 3, 2))::INT AS b1
            FROM documents
        )
    """,
    description="Multimodal pipeline through the driver gate: documents' "
    "text bytes stand in for media blobs → binary column → Arrow-batched "
    "stub decode → (width, height, feature vector) stats. Proves the "
    "binary-column plumbing end-to-end; real codecs swap one function "
    "(operators/multimodal.py). The stub's md5-derived fake replays in "
    "SQL, so even this path is value-hash checked.",
    tags=("multimodal", "udf"),
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.multimodal import decode_image_features

    blobs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), F.encode("text", "utf-8").alias("content")
    )
    feats = decode_image_features(blobs)
    return feats.agg(
        F.count(F.lit(1)).alias("n_decoded"),
        F.min("width").alias("min_w"),
        F.max("height").alias("max_h"),
        F.round(F.avg(F.element_at("features", 1)), 6).alias("mean_f0"),
    )


@register(
    "png_decode_meta",
    oracle="""
        SELECT doc_id,
               CAST(1 + doc_id % 16 AS INT) AS width,
               CAST(1 + n_chars % 16 AS INT) AS height,
               CAST(8 AS INT) AS bit_depth,
               CAST(0 AS INT) AS color_type,
               CAST(list_sum(flatten(list_transform(
                        generate_series(0, (1 + n_chars % 16) - 1),
                        y -> list_transform(
                            generate_series(0, (1 + doc_id % 16) - 1),
                            x -> (doc_id * 7 + x * 3 + y * 5) % 256))))
                    AS BIGINT) AS pixel_sum,
               CAST((1 + doc_id % 16) * (1 + n_chars % 16) AS BIGINT) AS n_pixels
        FROM documents WHERE doc_id < 200
    """,
    description="REAL image decode through the driver gate: synthesize a "
    "valid grayscale PNG per document (dims + pixel formula from table "
    "columns; row filters cycle through all five PNG filter types), then "
    "fully decode — chunk parse, CRC32 verify, zlib inflate, scanline "
    "unfilter (functions/png.py, stdlib-only) — and emit decode-sensitive "
    "pixel stats the oracle recomputes from the generating formula. "
    "Multimodal decode gets a full value-hash gate row, not a stub or "
    "a rows-only check.",
    tags=("multimodal", "udf", "png"),
)
def png_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.png import encode_png
    from appengine_mapreduce_spark.operators.multimodal import decode_png_images

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "n_chars")
    )

    def encode(row):
        did, nc = row
        w = 1 + did % 16
        h = 1 + nc % 16
        pixels = bytes(
            (did * 7 + x * 3 + y * 5) % 256
            for y in range(h)
            for x in range(w)
        )
        blob = encode_png(
            w, h, pixels, color_type=0,
            row_filters=[y % 5 for y in range(h)],
        )
        yield did, blob

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_png_images(blobs, id_col="doc_id", content_col="content")


@register(
    "jpeg_decode_meta",
    oracle="""
        SELECT doc_id,
               CAST(1 + doc_id % 200 AS INT) AS width,
               CAST(1 + n_chars % 150 AS INT) AS height,
               CAST(8 AS INT) AS precision,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 1 END AS INT)
                   AS n_components,
               (doc_id % 2 = 1) AS progressive
        FROM documents WHERE doc_id < 300
    """,
    description="REAL JPEG header decode through the driver gate: "
    "synthesize a structurally valid baseline or progressive JPEG per "
    "document (dims/components/mode from table columns), then scan the "
    "marker segments to the SOFn frame header (functions/jpeg.py, "
    "stdlib-only T.81 segment layer) and emit the decoded fields, which "
    "the oracle recomputes from the generating formula.",
    tags=("multimodal", "udf", "jpeg"),
)
def jpeg_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.jpeg import encode_minimal_jpeg
    from appengine_mapreduce_spark.operators.multimodal import decode_jpeg_headers

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "n_chars")
    )

    def encode(row):
        did, nc = row
        blob = encode_minimal_jpeg(
            width=1 + did % 200,
            height=1 + nc % 150,
            n_components=3 if did % 3 == 0 else 1,
            progressive=did % 2 == 1,
        )
        yield did, blob

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_jpeg_headers(blobs, id_col="doc_id", content_col="content")


@register(
    "wav_decode_meta",
    oracle="""
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS INT)
                   AS n_channels,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 44100 END AS INT)
                   AS sample_rate,
               CAST(16 AS INT) AS bits_per_sample,
               CAST(n_chars * 10 AS BIGINT) AS n_frames,
               CAST((n_chars * 10 * 1000)
                    // (CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 44100 END)
                    AS BIGINT) AS duration_ms
        FROM documents WHERE doc_id < 200
    """,
    description="REAL audio metadata decode through the driver gate: "
    "synthesize a valid PCM WAV per document (channels/rate/frames from "
    "table columns), then walk the RIFF chunks (functions/media.py, "
    "stdlib-only) and emit the decoded fields, which the oracle recomputes "
    "from the generating formula.",
    tags=("multimodal", "udf", "audio"),
)
def wav_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.media import encode_wav
    from appengine_mapreduce_spark.operators.multimodal import decode_audio_meta

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "n_chars")
    )

    def encode(row):
        did, nc = row
        blob = encode_wav(
            n_channels=2 if did % 4 == 0 else 1,
            sample_rate=16000 if did % 2 == 0 else 44100,
            bits_per_sample=16,
            n_frames=nc * 10,
        )
        yield did, blob

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_audio_meta(blobs, id_col="doc_id", content_col="content")


@register(
    "mp4_decode_meta",
    oracle="""
        SELECT doc_id,
               'isom' AS major_brand,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 1000 ELSE 90000 END AS BIGINT)
                   AS timescale,
               CAST((n_chars * 100 * 1000)
                    // (CASE WHEN doc_id % 2 = 0 THEN 1000 ELSE 90000 END)
                    AS BIGINT) AS duration_ms,
               CAST(1 + doc_id % 3 AS INT) AS n_tracks
        FROM documents WHERE doc_id < 200
    """,
    description="REAL video-container metadata decode through the driver "
    "gate: synthesize a valid ISO BMFF ftyp+moov(mvhd+trak*) stream per "
    "document (alternating mvhd v0/v1 layouts and timescales), box-walk it "
    "(functions/media.py, stdlib-only) and emit brand/timescale/duration/"
    "track-count, which the oracle recomputes from the generating formula.",
    tags=("multimodal", "udf", "video"),
)
def mp4_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.media import encode_minimal_mp4
    from appengine_mapreduce_spark.operators.multimodal import decode_video_meta

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "n_chars")
    )

    def encode(row):
        did, nc = row
        blob = encode_minimal_mp4(
            timescale=1000 if did % 2 == 0 else 90000,
            duration=nc * 100,
            n_tracks=1 + did % 3,
            version=did % 2,  # exercise both mvhd layouts
        )
        yield did, blob

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_video_meta(blobs, id_col="doc_id", content_col="content")


@register(
    "mapreduce_api_chained",
    oracle="""
        SELECT tok AS word, count(*) AS n
        FROM (SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                        t -> t <> '')) AS tok FROM documents)
        GROUP BY tok
        ORDER BY n DESC, tok
        LIMIT 1
    """,
    description="Chained two-stage MapReduce, fully lazy (stage 2's mapper "
    "consumes stage 1's output DataFrame with no intermediate action) — "
    "≙ ChainedMapReduceJob.java, minus the materialization between stages.",
    tags=("api", "mr-parity", "udf", "chaining"),
)
def mapreduce_api_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.job import (
        DataFrameInput,
        MapReduceJob,
        MapReduceSpecification,
    )
    from appengine_mapreduce_spark.core.worker import Mapper, Reducer

    class WordCountMapper(Mapper):
        def __call__(self, ctx, row):
            for w in row.text.split():
                if w:
                    yield (w, 1)

    class SumReducer(Reducer):
        def __call__(self, ctx, key, values):
            yield (key, sum(values))

    stage1 = MapReduceJob.plan(
        spark,
        MapReduceSpecification(
            job_name="chain-wc",
            input=DataFrameInput(load(spark, sf_dir, "documents").select("text")),
            mapper=WordCountMapper(),
            map_output_schema="word string, n bigint",
            reducer=SumReducer(),
            output_schema="word string, n bigint",
            output=None,
        ),
    )

    class TagMapper(Mapper):
        def __call__(self, ctx, row):
            yield ("all", f"{row.n:012d}:{row.word}")

    class MaxReducer(Reducer):
        def __call__(self, ctx, key, values):
            # max on the zero-padded "count:word" string = (max n, max word);
            # ties on n resolve to the lexicographically LAST word, so
            # invert: take max n, then min word among that n.
            vals = list(values)
            best_n = max(int(v.split(":", 1)[0]) for v in vals)
            best_word = min(
                v.split(":", 1)[1] for v in vals if int(v.split(":", 1)[0]) == best_n
            )
            yield (best_word, best_n)

    stage2 = MapReduceJob.plan(
        spark,
        MapReduceSpecification(
            job_name="chain-top",
            input=DataFrameInput(stage1),
            mapper=TagMapper(),
            map_output_schema="key string, value string",
            reducer=MaxReducer(),
            output_schema="word string, n bigint",
            output=None,
        ),
    )
    return stage2


@register(
    "wav_pcm_features",
    oracle="""
        WITH base AS (
            SELECT doc_id, 50 + doc_id % 50 AS n
            FROM documents WHERE doc_id < 200
        ),
        samp AS (
            SELECT doc_id,
                   unnest(generate_series(0, n - 1)) AS i,
                   unnest(list_transform(
                       generate_series(0, n - 1),
                       i -> ((doc_id * 37 + i * 13) % 4001) - 2000)) AS s
            FROM base
        ),
        lagged AS (
            SELECT doc_id, s,
                   lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
            FROM samp
        )
        SELECT doc_id,
               count(*) AS n_samples,
               CAST(sum(s * s) AS BIGINT) AS sum_sq,
               CAST(max(abs(s)) AS INT) AS peak,
               CAST(sum(CASE WHEN prev IS NOT NULL
                              AND ((s >= 0) <> (prev >= 0))
                             THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        FROM lagged GROUP BY doc_id
    """,
    description="REAL audio SAMPLE decode through the driver gate: "
    "synthesize a PCM16 WAV per document from a deterministic integer "
    "waveform, decode the frames back stdlib-only "
    "(functions/media.decode_wav_samples — PCM needs no codec library) "
    "and extract integer-exact clip features (energy, peak, "
    "zero-crossings); the oracle recomputes the same features from the "
    "generating formula. MP3/AAC samples do not decode: their "
    "filterbanks need ISO tables this project does not ship.",
    tags=("multimodal", "udf", "audio"),
)
def wav_pcm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.media import encode_wav_pcm16
    from appengine_mapreduce_spark.operators.multimodal import (
        audio_pcm_features,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )

    def encode(row):
        did = row.doc_id
        n = 50 + did % 50
        samples = [
            ((did * 37 + i * 13) % 4001) - 2000 for i in range(n)
        ]
        yield did, encode_wav_pcm16(samples)

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return audio_pcm_features(blobs, id_col="doc_id", content_col="content")


@register(
    "jpeg_pixel_decode",
    oracle="""
        SELECT doc_id,
               CAST(8 * (1 + doc_id % 4) AS INT) AS width,
               CAST(8 * (1 + n_chars % 3) AS INT) AS height,
               CAST(8 * (1 + doc_id % 4) * 8 * (1 + n_chars % 3)
                    * ((doc_id * 7) % 256) AS BIGINT) AS px_sum,
               CAST((doc_id * 7) % 256 AS INT) AS px_min,
               CAST((doc_id * 7) % 256 AS INT) AS px_max
        FROM documents WHERE doc_id < 100
    """,
    description="REAL JPEG PIXEL decode through the driver gate: encode a "
    "solid-color baseline-grayscale JPEG per document (real fDCT + "
    "quantization + Annex K Huffman entropy coding, "
    "functions/jpeg_pixels.py), then fully entropy-decode + dequantize + "
    "IDCT it back and emit integer pixel statistics. With Q[DC]=8 a flat "
    "block's DC survives quantization exactly, so the oracle predicts the "
    "decoded pixels bit-exactly from the generating formula; non-flat "
    "content is covered by encode-decode tolerance tests "
    "(tests/test_multimodal.py). JPEG pixels are no longer a stub for the "
    "baseline-grayscale (document-scan) profile.",
    tags=("multimodal", "udf", "image", "jpeg"),
)
def jpeg_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        encode_baseline_gray,
    )
    from appengine_mapreduce_spark.operators.multimodal import (
        decode_jpeg_pixel_stats,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "n_chars")
    )

    def encode(row):
        did, nc = row
        w = 8 * (1 + did % 4)
        h = 8 * (1 + nc % 3)
        color = (did * 7) % 256
        yield did, encode_baseline_gray([color] * (w * h), w, h)

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_jpeg_pixel_stats(blobs, id_col="doc_id", content_col="content")


@register(
    "mp4_frame_stats",
    oracle="""
        WITH base AS (
            SELECT doc_id, 10 + doc_id % 20 AS n
            FROM documents WHERE doc_id < 200
        ),
        sizes AS (
            SELECT doc_id, n,
                   unnest(list_transform(
                       generate_series(0, n - 1),
                       i -> 200 + (doc_id * 31 + i * 17) % 1000)) AS sz
            FROM base
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_samples,
               CAST(sum(sz) AS BIGINT) AS total_bytes,
               CAST(max(sz) AS BIGINT) AS max_sample_bytes,
               CAST(n * 3000 AS BIGINT) AS duration_units
        FROM sizes GROUP BY doc_id, n
    """,
    description="REAL frame-level video metadata through the driver gate: "
    "synthesize an ISO-BMFF stream per document with a genuine stbl "
    "sample table (one stts run + per-frame stsz sizes from a "
    "deterministic formula), box-walk moov→trak→mdia→minf→stbl back "
    "(functions/media.decode_mp4_track_samples, stdlib-only) and emit "
    "frame count / byte totals / duration, which the oracle recomputes "
    "from the generating formula. Narrows the video stub to frame PIXEL "
    "decode only — the routing metadata a video corpus filters on is "
    "fully decoded.",
    tags=("multimodal", "udf", "video"),
)
def mp4_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.media import (
        encode_mp4_with_samples,
    )
    from appengine_mapreduce_spark.operators.multimodal import (
        mp4_frame_stats as frame_stats_op,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )

    def encode(row):
        did = row.doc_id
        n = 10 + did % 20
        sizes = [200 + (did * 31 + i * 17) % 1000 for i in range(n)]
        yield did, encode_mp4_with_samples(sizes, sample_delta=3000)

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return frame_stats_op(blobs, id_col="doc_id", content_col="content")


@register(
    "jpeg_progressive_decode",
    oracle="""
        SELECT doc_id,
               CAST(8 * (1 + doc_id % 3) AS INT) AS width,
               CAST(8 * (1 + n_chars % 2) AS INT) AS height,
               CAST(8 * (1 + doc_id % 3) * 8 * (1 + n_chars % 2)
                    * ((doc_id * 11) % 256) AS BIGINT) AS px_sum,
               CAST((doc_id * 11) % 256 AS INT) AS px_min,
               CAST((doc_id * 11) % 256 AS INT) AS px_max
        FROM documents WHERE doc_id < 100
    """,
    description="PROGRESSIVE JPEG pixel decode through the driver gate: "
    "each document encodes a solid-color SOF2 stream with the full "
    "progressive scan script (DC first + DC refinement + spectral-"
    "selection AC first scans with EOB runs + AC successive-approximation "
    "refinement scans, T.81 Annex G; functions/jpeg_pixels.py), then the "
    "coefficient-accumulating decoder reconstructs pixels the oracle "
    "predicts exactly. Non-solid progressive content is verified "
    "bit-identical to the baseline decode of the same source in pytest — "
    "progressive grayscale is no longer a stub.",
    tags=("multimodal", "udf", "image", "jpeg"),
)
def jpeg_progressive_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        encode_progressive_gray,
    )
    from appengine_mapreduce_spark.operators.multimodal import (
        decode_jpeg_pixel_stats,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "n_chars")
    )

    def encode(row):
        did, nc = row
        w = 8 * (1 + did % 3)
        h = 8 * (1 + nc % 2)
        color = (did * 11) % 256
        yield did, encode_progressive_gray([color] * (w * h), w, h)

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_jpeg_pixel_stats(blobs, id_col="doc_id", content_col="content")


@register(
    "jpeg_progressive_color_decode",
    oracle="""
        SELECT doc_id,
               CAST(8 * (1 + doc_id % 3) AS INT) AS width,
               CAST(8 * (1 + n_chars % 2) AS INT) AS height,
               CAST(3 * 8 * (1 + doc_id % 3) * 8 * (1 + n_chars % 2)
                    * ((doc_id * 13) % 256) AS BIGINT) AS px_sum,
               CAST((doc_id * 13) % 256 AS INT) AS px_min,
               CAST((doc_id * 13) % 256 AS INT) AS px_max
        FROM documents WHERE doc_id < 100
    """,
    description="PROGRESSIVE COLOR JPEG pixel decode through the driver "
    "gate: each document encodes a solid-GRAY (r=g=b) SOF2 4:4:4 YCbCr "
    "stream with interleaved DC first/refinement scans (MCU order, "
    "per-component predictors) plus per-component AC first/refinement "
    "scans (T.81 Annex G; functions/jpeg_pixels.encode_progressive_color) "
    "and the coefficient-accumulating color decoder reconstructs RGB the "
    "oracle predicts exactly: a flat gray block's Y DC survives the "
    "Q[DC]=8 quantizer and the successive-approximation point transform "
    "losslessly, chroma is exactly 128, and the JFIF inverse transform "
    "returns (v,v,v). Non-solid progressive color is verified "
    "bit-identical to the baseline color decode of the same source in "
    "pytest — the full JPEG profile matrix (baseline/progressive x "
    "gray/color) now decodes for real.",
    tags=("multimodal", "udf", "image", "jpeg"),
)
def jpeg_progressive_color_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        encode_progressive_color,
    )
    from appengine_mapreduce_spark.operators.multimodal import (
        decode_jpeg_color_pixel_stats,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "n_chars")
    )

    def encode(row):
        did, nc = row
        w = 8 * (1 + did % 3)
        h = 8 * (1 + nc % 2)
        v = (did * 13) % 256
        yield did, encode_progressive_color([(v, v, v)] * (w * h), w, h)

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_jpeg_color_pixel_stats(
        blobs, id_col="doc_id", content_col="content"
    )


@register(
    "mp3_decode_meta",
    oracle="""
        WITH base AS (
            SELECT doc_id, n_chars,
                   (doc_id % 3 <> 0) AS mpeg1,
                   1 + doc_id % 14 AS bi,
                   CAST(doc_id % 3 AS INT) AS sri,
                   CAST(doc_id % 4 AS INT) AS cm,
                   5 + n_chars % 20 AS nf
            FROM documents WHERE doc_id < 150
        )
        SELECT doc_id,
               CASE WHEN mpeg1 THEN '1' ELSE '2' END AS mpeg_version,
               CAST(CASE WHEN mpeg1 THEN ([44100, 48000, 32000])[sri + 1]
                         ELSE ([22050, 24000, 16000])[sri + 1]
                    END AS INT) AS sample_rate,
               CAST(nf AS BIGINT) AS n_frames,
               CAST(nf * (CASE WHEN mpeg1 THEN 1152 ELSE 576 END) * 1000
                    // (CASE WHEN mpeg1 THEN ([44100, 48000, 32000])[sri + 1]
                             ELSE ([22050, 24000, 16000])[sri + 1] END)
                    AS BIGINT) AS duration_ms,
               CAST(CASE WHEN mpeg1 THEN
                        ([0,32,40,48,56,64,80,96,112,128,160,192,224,256,320])[bi + 1]
                    ELSE
                        ([0,8,16,24,32,40,48,56,64,80,96,112,128,144,160])[bi + 1]
                    END AS INT) AS bitrate_kbps,
               TRUE AS is_cbr,
               (['stereo', 'joint', 'dual', 'mono'])[cm + 1] AS channel_mode
        FROM base
    """,
    description="REAL MP3 frame-header metadata through the driver gate: "
    "synthesize a valid Layer III stream per document (MPEG version, "
    "bitrate index, samplerate index, channel mode and frame count all "
    "derived from table columns; every fifth stream carries a leading "
    "ID3v2 tag the walker must skip), then walk the frame headers "
    "(functions/media.decode_mp3_meta — sync word, public bitrate/"
    "samplerate tables, per-header frame length) and emit frame count, "
    "exact duration, bitrate and CBR flag, which the oracle recomputes "
    "from the same public tables. VBR detection and malformed-stream "
    "rejection are pytest-covered. Samples do not decode: the "
    "filterbank needs ISO tables this project does not ship.",
    tags=("multimodal", "udf", "audio", "mp3"),
)
def mp3_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.media import encode_minimal_mp3
    from appengine_mapreduce_spark.operators.multimodal import (
        decode_mp3_frame_meta,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "n_chars")
    )

    def encode(row):
        did, nc = row
        blob = encode_minimal_mp3(
            n_frames=5 + nc % 20,
            bitrate_idx=1 + did % 14,
            sr_idx=did % 3,
            mpeg1=did % 3 != 0,
            channel_mode=did % 4,
            id3_bytes=64 if did % 5 == 0 else 0,
        )
        yield did, blob

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_mp3_frame_meta(blobs, id_col="doc_id", content_col="content")


@register(
    "aac_decode_meta",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   CAST(doc_id % 13 AS INT) AS sfi,
                   CAST(1 + doc_id % 6 AS INT) AS ch,
                   CAST(doc_id % 4 AS INT) AS prof,
                   4 + n_chars % 25 AS nf,
                   100 + doc_id % 100 AS pb
            FROM documents WHERE doc_id < 150
        )
        SELECT doc_id,
               (['Main', 'LC', 'SSR', 'LTP'])[prof + 1] AS profile,
               CAST(([96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
                      16000, 12000, 11025, 8000, 7350])[sfi + 1] AS INT)
                   AS sample_rate,
               ch AS n_channels,
               CAST(nf AS BIGINT) AS n_frames,
               CAST(nf * 1024 * 1000
                    // ([96000, 88200, 64000, 48000, 44100, 32000, 24000,
                         22050, 16000, 12000, 11025, 8000, 7350])[sfi + 1]
                    AS BIGINT) AS duration_ms,
               CAST(nf * pb AS BIGINT) AS total_bytes
        FROM base
    """,
    description="REAL AAC/ADTS frame-header metadata through the driver "
    "gate: synthesize a framing-valid ADTS stream per document (profile, "
    "sampling-frequency index, channel config, frame count and payload "
    "size all derived from table columns), then walk the ADTS headers "
    "(functions/media.decode_aac_adts_meta — 12-bit sync, 13-bit frame "
    "length, public sampling-frequency table, 1024 samples/frame) and "
    "emit count/duration/payload bytes, which the oracle recomputes from "
    "the same public tables. Samples do not decode, as for MP3.",
    tags=("multimodal", "udf", "audio", "aac"),
)
def aac_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.media import encode_minimal_adts
    from appengine_mapreduce_spark.operators.multimodal import (
        decode_aac_frame_meta,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "n_chars")
    )

    def encode(row):
        did, nc = row
        blob = encode_minimal_adts(
            n_frames=4 + nc % 25,
            sf_idx=did % 13,
            channels=1 + did % 6,
            profile=did % 4,
            payload_bytes=100 + did % 100,
            with_crc_field=did % 7 == 0,
        )
        yield did, blob

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_aac_frame_meta(blobs, id_col="doc_id", content_col="content")


@register(
    "avi_mjpeg_frame_decode",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   CAST(16 * (1 + doc_id % 2) AS INT) AS w,
                   CAST(8 * (1 + n_chars % 2) AS INT) AS h,
                   3 + doc_id % 5 AS nf
            FROM documents WHERE doc_id < 100
        ),
        framed AS (
            SELECT doc_id, w, h, nf,
                   unnest(generate_series(0, nf - 1)) AS i
            FROM base
        ),
        vals AS (
            SELECT doc_id, w, h, nf, (doc_id * 17 + i * 29) % 256 AS v
            FROM framed
        )
        SELECT doc_id,
               CAST(nf AS BIGINT) AS n_frames,
               w AS width, h AS height,
               CAST(w * h * sum(v) AS BIGINT) AS px_sum,
               CAST(min(v) AS INT) AS px_min,
               CAST(max(v) AS INT) AS px_max
        FROM vals GROUP BY doc_id, w, h, nf
    """,
    description="REAL VIDEO FRAME PIXEL decode through the driver gate "
    "(MJPEG profile): each document synthesizes an AVI container "
    "(functions/media.encode_minimal_avi — RIFF hdrl/avih/strl/movi "
    "framing) holding solid-gray baseline-JPEG frames, then "
    "operators/multimodal.decode_video_frame_pixels walks the container "
    "and FULLY decodes every frame through the in-repo T.81 codec, "
    "emitting per-video pixel statistics the oracle predicts exactly "
    "(flat blocks survive Q[DC]=8 quantization losslessly). Inter-frame "
    "codecs (H.264/VP9) do not decode: they need a codec library.",
    tags=("multimodal", "udf", "video", "jpeg"),
)
def avi_mjpeg_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        encode_baseline_gray,
    )
    from appengine_mapreduce_spark.functions.media import encode_minimal_avi
    from appengine_mapreduce_spark.operators.multimodal import (
        decode_video_frame_pixels,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "n_chars")
    )

    def encode(row):
        did, nc = row
        w = 16 * (1 + did % 2)
        h = 8 * (1 + nc % 2)
        nf = 3 + did % 5
        frames = [
            encode_baseline_gray(
                [(did * 17 + i * 29) % 256] * (w * h), w, h
            )
            for i in range(nf)
        ]
        yield did, encode_minimal_avi(frames, w, h, fps=25)

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_video_frame_pixels(
        blobs, id_col="doc_id", content_col="content"
    )


@register(
    "avi_audio_features",
    oracle="""
        WITH base AS (
            SELECT doc_id, 40 + doc_id % 60 AS n,
                   CAST(([8000, 16000, 44100])[1 + doc_id % 3] AS INT)
                       AS sample_rate
            FROM documents WHERE doc_id < 150
        ),
        samp AS (
            SELECT doc_id, sample_rate,
                   unnest(generate_series(0, n - 1)) AS i,
                   unnest(list_transform(
                       generate_series(0, n - 1),
                       i -> ((doc_id * 41 + i * 17) % 3001) - 1500)) AS s
            FROM base
        ),
        lagged AS (
            SELECT doc_id, sample_rate, s,
                   lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
            FROM samp
        )
        SELECT doc_id, sample_rate,
               count(*) AS n_samples,
               CAST(sum(s * s) AS BIGINT) AS sum_sq,
               CAST(max(abs(s)) AS INT) AS peak,
               CAST(sum(CASE WHEN prev IS NOT NULL
                              AND (s >= 0) <> (prev >= 0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        FROM lagged GROUP BY doc_id, sample_rate
    """,
    description="REAL audio-track decode from VIDEO containers through "
    "the driver gate: each document synthesizes an AVI holding an MJPEG "
    "video stream AND a PCM16 auds stream "
    "(functions/media.encode_minimal_avi_with_audio), then "
    "operators/multimodal.avi_audio_pcm_features walks the RIFF stream "
    "headers, concatenates the audio chunks, unpacks the samples and "
    "emits the integer-exact clip features the oracle recomputes from "
    "the generating formula — soundtrack screening for a video corpus "
    "with zero codec dependencies.",
    tags=("multimodal", "udf", "video", "audio"),
)
def avi_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        encode_baseline_gray,
    )
    from appengine_mapreduce_spark.functions.media import (
        encode_minimal_avi_with_audio,
    )
    from appengine_mapreduce_spark.operators.multimodal import (
        avi_audio_pcm_features,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "n_chars")
    )
    rates = [8000, 16000, 44100]

    def encode(row):
        did = row.doc_id
        n = 40 + did % 60
        samples = [
            ((did * 41 + i * 17) % 3001) - 1500 for i in range(n)
        ]
        frame = encode_baseline_gray([did % 256] * 64, 8, 8)
        yield did, encode_minimal_avi_with_audio(
            [frame], 8, 8, samples, sample_rate=rates[did % 3]
        )

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return avi_audio_pcm_features(blobs, id_col="doc_id", content_col="content")


@register(
    "webp_gif_decode_meta",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   doc_id % 4 AS variant,
                   CAST(16 + doc_id % 300 AS INT) AS w,
                   CAST(16 + n_chars % 200 AS INT) AS h,
                   doc_id % 2 = 0 AS alpha,
                   doc_id % 3 = 0 AS anim,
                   1 + doc_id % 6 AS gf
            FROM documents WHERE doc_id < 200
        )
        SELECT doc_id,
               (['webp-lossy', 'webp-lossless', 'webp-extended', 'gif'])
                   [variant + 1] AS kind,
               w AS width, h AS height,
               CAST(CASE WHEN variant = 3 THEN gf ELSE 0 END AS BIGINT)
                   AS n_frames,
               CASE WHEN variant IN (1, 2) THEN alpha ELSE FALSE END
                   AS has_alpha,
               CASE WHEN variant = 2 THEN anim
                    WHEN variant = 3 THEN gf > 1
                    ELSE FALSE END AS has_animation
        FROM base
    """,
    description="REAL WebP + GIF metadata through the driver gate: each "
    "document synthesizes one of the four container layouts (WebP lossy "
    "VP8 frame tag, lossless VP8L 14-bit dims, extended VP8X with "
    "alpha/animation flags, or multi-frame GIF89a), and "
    "operators/multimodal.decode_web_image_meta dispatches on magic "
    "bytes and walks the public header layouts — dimensions, frame "
    "counts, alpha/animation flags all recomputed by the oracle from the "
    "generating formulas. With JPEG and PNG this completes routing "
    "metadata for the whole web image-format family.",
    tags=("multimodal", "udf", "image", "webp", "gif"),
)
def webp_gif_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.media import (
        encode_minimal_gif,
        encode_minimal_webp,
    )
    from appengine_mapreduce_spark.operators.multimodal import (
        decode_web_image_meta,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "n_chars")
    )

    def encode(row):
        did, nc = row
        w = 16 + did % 300
        h = 16 + nc % 200
        variant = did % 4
        if variant == 3:
            blob = encode_minimal_gif(
                w, h, n_frames=1 + did % 6, gce=did % 2 == 0
            )
        else:
            blob = encode_minimal_webp(
                w, h,
                variant=["lossy", "lossless", "extended"][variant],
                alpha=did % 2 == 0,
                animation=did % 3 == 0,
            )
        yield did, blob

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_web_image_meta(blobs, id_col="doc_id", content_col="content")


@register(
    "tiff_decode_meta",
    oracle="""
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
               CAST(1 + doc_id % 9 AS BIGINT) AS n_pages,
               CAST(100 + doc_id % 2000 AS INT) AS width,
               CAST(100 + n_chars % 1500 AS INT) AS height,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 8 END AS INT)
                   AS bits_per_sample,
               CAST(([1, 4, 5, 6])[1 + doc_id % 4] AS INT) AS compression
        FROM documents WHERE doc_id < 200
    """,
    description="REAL TIFF metadata through the driver gate: each "
    "document synthesizes a multi-page TIFF (IFD chain with geometry "
    "tags, both byte orders, varying compression tags incl. CCITT G4 and "
    "JPEG), and operators/multimodal.decode_tiff_pages walks the chain "
    "for page count + first-page fields the oracle recomputes — the "
    "routing layer for scanned-document corpora (the reference's own "
    "document-scan domain).",
    tags=("multimodal", "udf", "image", "tiff"),
)
def tiff_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.media import encode_minimal_tiff
    from appengine_mapreduce_spark.operators.multimodal import (
        decode_tiff_pages,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "n_chars")
    )
    compressions = [1, 4, 5, 6]

    def encode(row):
        did, nc = row
        blob = encode_minimal_tiff(
            width=100 + did % 2000,
            height=100 + nc % 1500,
            n_pages=1 + did % 9,
            compression=compressions[did % 4],
            bits=1 if did % 3 == 0 else 8,
            big_endian=did % 2 == 1,
        )
        yield did, blob

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_tiff_pages(blobs, id_col="doc_id", content_col="content")
