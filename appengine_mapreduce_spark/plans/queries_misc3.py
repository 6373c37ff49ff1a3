"""Last coverage batch: conditional-share aggregation (TPC-H Q8 shape) and
a funnel analysis (the archetypal product-analytics query)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from appengine_mapreduce_spark.plans.registry import register
from appengine_mapreduce_spark.plans.tables import load

_D = "decimal(18,2)"


@register(
    "q8_market_share",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(CAST(sum(CASE WHEN n_name = 'CHINA'
                        THEN CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(18,2)))
                        ELSE 0 END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                 AS DOUBLE) AS mkt_share
        FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY year(o_orderdate)
    """,
    description="TPC-H Q8 market-share shape: one supplier nation's share "
    "of regional revenue per year — conditional decimal sums ratioed after "
    "exact accumulation (numerator and denominator both order-independent).",
    tags=("analytics", "join", "share"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice").cast(_D) * (
        F.lit(1) - F.col("l_discount").cast(_D)
    )
    china_rev = F.when(F.col("n_name") == "CHINA", rev).otherwise(
        F.lit(0).cast("decimal(38,4)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (F.sum(china_rev).cast("double") / F.sum(rev).cast("double"))
            .cast("double")
            .alias("mkt_share")
        )
    )


@register(
    "signup_purchase_funnel",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
            FROM events GROUP BY user_id
        )
        SELECT count(*) AS n_users,
               CAST(sum(CASE WHEN first_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_signed_up,
               CAST(sum(CASE WHEN first_signup IS NOT NULL
                              AND first_purchase > first_signup
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        FROM per_user
    """,
    description="Signup→purchase funnel: per-user first-event times via "
    "conditional min, then conversion counting — one shuffle on user_id, "
    "the archetypal product-analytics rollup the reference could only "
    "express as two chained MR jobs.",
    tags=("analytics", "funnel"),
)
def signup_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("first_signup").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_signed_up"),
        F.sum(
            F.when(
                F.col("first_signup").isNotNull()
                & (F.col("first_purchase") > F.col("first_signup")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_converted"),
    )


@register(
    "salted_join_priority_revenue",
    oracle="""
        SELECT o_orderpriority,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    description="Skew-resistant salted join through the driver gate: the "
    "probe side spreads each key over 16 salt buckets and the build side "
    "replicates into all of them (operators/joins.salted_join) — the "
    "explicit remedy for pathological hot keys AQE's skew split can't "
    "absorb. Salting must be result-invariant: the oracle is the PLAIN "
    "join, so any row lost or duplicated by the salt plumbing fails the "
    "value hash.",
    tags=("join", "skew", "salted"),
)
def salted_join_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.joins import salted_join

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(li, orders, key="l_orderkey", build_key="o_orderkey")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.sum(revenue).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "grouped_values_capped",
    oracle="""
        SELECT user_id,
               array_to_string(list_slice(list_sort(list(event_type)), 1, 5),
                               ',') AS sample_values,
               count(*) AS n_total
        FROM events GROUP BY user_id
    """,
    description="IdentityReducer(maxGroupedValues) parity through the "
    "driver gate (reference: reducers/IdentityReducer.java, value caps "
    "shuffler.py:596-598): collate values per key as a SORTED list capped "
    "at 5 (operators/shuffle.group_values) — sorting makes the cap "
    "deterministic, so the truncated list value-hashes identically in "
    "both engines; joined to a string for portable comparison.",
    tags=("mr-parity", "reducer", "grouping"),
)
def grouped_values_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.shuffle import group_values

    ev = load(spark, sf_dir, "events")
    grouped = group_values(
        ev, "user_id", "event_type", sort=True, max_grouped_values=5
    )
    n = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_total"))
    return grouped.join(n, "user_id").select(
        "user_id",
        F.array_join("values", ",").alias("sample_values"),
        "n_total",
    )


@register(
    "bucketed_join_revenue",
    oracle="""
        SELECT c_mktsegment,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue,
               count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    description="Bucketed co-located join through the driver gate "
    "(reference: outputs/ShardingOutputWriter.java — per-key-bucket files "
    "for the NEXT job's co-located consumption): orders and customer are "
    "written bucketed on the join key (sinks/bucketed.BucketedTableOutput, "
    "8 buckets each), then joined — same-bucket-spec joins run without an "
    "exchange (plan-asserted in tests/test_sources_sinks.py); the oracle "
    "is the plain join, so the bucketing layout is value-hash-verified.",
    tags=("join", "bucketed", "sinks"),
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re

    from appengine_mapreduce_spark.sinks.bucketed import BucketedTableOutput

    tag = _re.sub(r"[^A-Za-z0-9]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    orders_t, cust_t = f"bt_orders_{tag}", f"bt_customer_{tag}"
    BucketedTableOutput(orders_t, key="o_custkey", num_buckets=8).write(
        load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    )
    BucketedTableOutput(cust_t, key="c_custkey", num_buckets=8).write(
        load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    o = spark.table(orders_t)
    c = spark.table(cust_t)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "g711_audio_features",
    oracle="""
        WITH base AS (
            SELECT doc_id, 40 + doc_id % 40 AS n
            FROM documents WHERE doc_id < 200
        ),
        comp AS (
            SELECT doc_id,
                   unnest(generate_series(0, n - 1)) AS i,
                   unnest(list_transform(
                       generate_series(0, n - 1),
                       i -> (doc_id * 31 + i * 7) % 256)) AS b
            FROM base
        ),
        expanded AS (
            SELECT doc_id, i,
                   CASE WHEN (255 - b) >= 128
                        THEN -((((255 - b) % 16) * 8 + 132)
                               * (1 << (((255 - b) // 16) % 8)) - 132)
                        ELSE ((((255 - b) % 16) * 8 + 132)
                              * (1 << (((255 - b) // 16) % 8)) - 132)
                   END AS s
            FROM comp
        ),
        lagged AS (
            SELECT doc_id, s,
                   lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
            FROM expanded
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
    description="REAL LOSSY-audio sample decode through the driver gate: "
    "G.711 µ-law (the telephony codec) — deterministic companded bytes "
    "wrapped in a format-7 WAV, expanded to linear PCM via the public "
    "G.711 segment/mantissa bit formula "
    "(functions/media.mulaw_expand, involution-tested over all 256 byte "
    "values), then integer-exact clip features. The oracle re-implements "
    "the expansion in pure SQL bit arithmetic, so the MATCH proves the "
    "codec formula itself, not just the plumbing. Perceptual codecs "
    "(MP3/AAC) stay stubbed — their ISO tables aren't in this container "
    "— but companded lossy audio now decodes for real.",
    tags=("multimodal", "udf", "audio", "g711"),
)
def g711_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.media import (
        encode_wav_companded,
    )
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
        n = 40 + did % 40
        data = bytes((did * 31 + i * 7) % 256 for i in range(n))
        yield did, encode_wav_companded(data, law="mu")

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return audio_pcm_features(blobs, id_col="doc_id", content_col="content")


@register(
    "gif_frame_pixel_decode",
    oracle="""
        WITH params AS (
            SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 5 AS h,
                   1 + doc_id % 3 AS nf
            FROM documents WHERE doc_id < 100
        ),
        pal AS (
            SELECT list_transform(generate_series(0, 7),
                       k -> (k*9) % 256 + (k*5+3) % 256 + (k*11+7) % 256)
                       AS psum,
                   list_transform(generate_series(0, 7),
                       k -> least((k*9) % 256, (k*5+3) % 256,
                                  (k*11+7) % 256)) AS pmin,
                   list_transform(generate_series(0, 7),
                       k -> greatest((k*9) % 256, (k*5+3) % 256,
                                     (k*11+7) % 256)) AS pmax
        ),
        px AS (
            SELECT doc_id, w, h, nf,
                   unnest(generate_series(0, nf * w * h - 1)) AS t
            FROM params
        ),
        idx AS (
            SELECT doc_id, w, h, nf,
                   ((t % (w*h)) % w + (t % (w*h)) // w
                    + t // (w*h) + doc_id) % 8 AS k
            FROM px
        )
        SELECT doc_id,
               CAST(nf AS INT) AS n_frames,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(sum(psum[k + 1]) AS BIGINT) AS rgb_sum,
               CAST(min(pmin[k + 1]) AS INT) AS px_min,
               CAST(max(pmax[k + 1]) AS INT) AS px_max
        FROM idx, pal
        GROUP BY doc_id, nf, w, h
    """,
    description="REAL GIF PIXEL decode through the driver gate: each "
    "document synthesizes a multi-frame GIF89a with a real LZW-compressed "
    "pixel stream (odd docs interlaced — the 4-pass row order), "
    "operators/multimodal.decode_gif_pixel_stats entropy-decodes the LZW "
    "(variable-width codes, 12-bit dictionary), maps the palette, "
    "de-interlaces, and emits integer RGB statistics the oracle "
    "recomputes from the generating formula — LZW is pure algorithm "
    "(no codec tables), so GIF pixels decode for real.",
    tags=("multimodal", "udf", "image", "gif"),
)
def gif_frame_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.media import encode_gif_pixels
    from appengine_mapreduce_spark.operators.multimodal import (
        decode_gif_pixel_stats,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id")
    )
    palette = [((k*9) % 256, (k*5+3) % 256, (k*11+7) % 256)
               for k in range(8)]

    def encode(row):
        did = row.doc_id
        w, h, nf = 8 + did % 8, 6 + did % 5, 1 + did % 3
        frames = [
            [(x + y + f + did) % 8
             for y in range(h) for x in range(w)]
            for f in range(nf)
        ]
        blob = encode_gif_pixels(
            frames, w, h, palette, interlace=did % 2 == 1
        )
        yield did, blob

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_gif_pixel_stats(blobs, id_col="doc_id", content_col="content")


@register(
    "tiff_strip_pixel_decode",
    oracle="""
        WITH params AS (
            SELECT doc_id, 9 + doc_id % 12 AS w, 7 + doc_id % 9 AS h,
                   CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS spp,
                   CASE WHEN doc_id % 3 = 0 THEN 32773 ELSE 1 END AS comp
            FROM documents WHERE doc_id < 150
        ),
        px AS (
            SELECT doc_id, w, h, spp, comp,
                   unnest(list_transform(
                       generate_series(0, w * h * spp - 1),
                       j -> (doc_id * 13 + j * 5) % 251)) AS v
            FROM params
        )
        SELECT doc_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(spp AS INT) AS samples_per_pixel,
               CAST(comp AS INT) AS compression,
               CAST(sum(v) AS BIGINT) AS px_sum,
               CAST(min(v) AS INT) AS px_min,
               CAST(max(v) AS INT) AS px_max
        FROM px
        GROUP BY doc_id, w, h, spp, comp
    """,
    description="REAL TIFF PIXEL decode through the driver gate: each "
    "document synthesizes a strip-based 8-bit TIFF (gray or RGB, "
    "multi-strip, alternating byte orders; every third doc PackBits-RLE "
    "compressed), operators/multimodal.decode_tiff_pixel_stats "
    "dereferences the strip offset/count arrays, inflates PackBits runs "
    "and emits integer sample statistics the oracle recomputes — the "
    "document-scan ingest path (the reference's own domain) now decodes "
    "pixels, not just page geometry.",
    tags=("multimodal", "udf", "image", "tiff"),
)
def tiff_strip_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.media import encode_tiff_strips
    from appengine_mapreduce_spark.operators.multimodal import (
        decode_tiff_pixel_stats,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id")
    )

    def encode(row):
        did = row.doc_id
        w, h = 9 + did % 12, 7 + did % 9
        spp = 1 if did % 2 == 0 else 3
        comp = 32773 if did % 3 == 0 else 1
        px = bytes(
            (did * 13 + j * 5) % 251 for j in range(w * h * spp)
        )
        blob = encode_tiff_strips(
            px, w, h, samples_per_pixel=spp, compression=comp,
            rows_per_strip=4, big_endian=did % 2 == 1,
        )
        yield did, blob

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_tiff_pixel_stats(
        blobs, id_col="doc_id", content_col="content"
    )


@register(
    "bmp_pixel_decode",
    oracle="""
        WITH params AS (
            SELECT doc_id, 5 + doc_id % 12 AS w, 4 + doc_id % 9 AS h,
                   CASE WHEN doc_id % 2 = 0 THEN 24 ELSE 8 END AS bpp,
                   CASE WHEN doc_id % 2 = 1 AND doc_id % 4 = 3
                        THEN 1 ELSE 0 END AS comp
            FROM documents WHERE doc_id < 150
        ),
        px AS (
            SELECT doc_id, w, h, bpp, comp,
                   unnest(generate_series(0, w * h - 1)) AS t
            FROM params
        ),
        chan AS (
            SELECT doc_id, w, h, bpp, comp,
                   CASE WHEN bpp = 24 THEN (doc_id + t % w) % 256
                        ELSE (((t % w) + (t // w) + doc_id) % 16 * 3) % 256
                   END AS r,
                   CASE WHEN bpp = 24 THEN (doc_id + (t // w) * 3) % 256
                        ELSE (((t % w) + (t // w) + doc_id) % 16 * 5) % 256
                   END AS g,
                   CASE WHEN bpp = 24 THEN ((t % w) * (t // w) + doc_id) % 251
                        ELSE (((t % w) + (t // w) + doc_id) % 16 * 7) % 256
                   END AS b
            FROM px
        )
        SELECT doc_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(bpp AS INT) AS bits_per_pixel,
               CAST(comp AS INT) AS compression,
               CAST(sum(r + g + b) AS BIGINT) AS rgb_sum,
               CAST(min(least(r, g, b)) AS INT) AS px_min,
               CAST(max(greatest(r, g, b)) AS INT) AS px_max
        FROM chan
        GROUP BY doc_id, w, h, bpp, comp
    """,
    description="REAL BMP pixel decode through the driver gate: each "
    "document synthesizes a BMP (even docs 24-bit BGR, odd docs 8-bit "
    "palette; every doc_id%4==3 RLE8-compressed), "
    "operators/multimodal.decode_bmp_pixel_stats walks "
    "BITMAPFILEHEADER/BITMAPINFOHEADER, inflates RLE8 runs, re-orders "
    "the bottom-up padded rows and maps the palette; the oracle "
    "recomputes the RGB statistics from the generating formula — the "
    "Windows bitmap family (a document-scan staple) decodes for real.",
    tags=("multimodal", "udf", "image", "bmp"),
)
def bmp_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.media import encode_bmp
    from appengine_mapreduce_spark.operators.multimodal import (
        decode_bmp_pixel_stats,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id")
    )
    palette = [((k * 3) % 256, (k * 5) % 256, (k * 7) % 256)
               for k in range(16)]

    def encode(row):
        did = row.doc_id
        w, h = 5 + did % 12, 4 + did % 9
        if did % 2 == 0:
            px = [((did + x) % 256, (did + y * 3) % 256,
                   (x * y + did) % 251)
                  for y in range(h) for x in range(w)]
            blob = encode_bmp(px, w, h, bpp=24)
        else:
            px = [palette[(x + y + did) % 16]
                  for y in range(h) for x in range(w)]
            blob = encode_bmp(px, w, h, bpp=8,
                              rle=did % 4 == 3, palette=palette)
        yield did, blob

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_bmp_pixel_stats(blobs, id_col="doc_id", content_col="content")


@register(
    "avi_raw_frame_decode",
    oracle="""
        WITH params AS (
            SELECT doc_id, 6 + doc_id % 6 AS w, 4 + doc_id % 4 AS h,
                   1 + doc_id % 3 AS nf
            FROM documents WHERE doc_id < 100
        ),
        px AS (
            SELECT doc_id, w, h, nf,
                   unnest(generate_series(0, nf * w * h - 1)) AS t
            FROM params
        ),
        chan AS (
            SELECT doc_id, w, h, nf,
                   (doc_id + t // (w*h) + (t % (w*h)) % w) % 256 AS r,
                   (((t % (w*h)) // w) * 2 + t // (w*h)) % 256 AS g,
                   ((t % (w*h)) % w + (t % (w*h)) // w + doc_id) % 256 AS b
            FROM px
        )
        SELECT doc_id,
               CAST(nf AS BIGINT) AS n_frames,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(sum(r + g + b) AS BIGINT) AS px_sum,
               CAST(min(least(r, g, b)) AS INT) AS px_min,
               CAST(max(greatest(r, g, b)) AS INT) AS px_max
        FROM chan
        GROUP BY doc_id, nf, w, h
    """,
    description="REAL raw-video frame decode through the driver gate: "
    "each document synthesizes an AVI with an UNCOMPRESSED BI_RGB video "
    "stream (bottom-up padded BGR rows — the raw capture layout), "
    "operators/multimodal.decode_video_frame_pixels dispatches on the "
    "strf compression field (MJPG -> in-repo T.81 codec, BI_RGB -> DIB "
    "row decode) and emits per-video pixel statistics the oracle "
    "recomputes — video frame decode now covers both no-library "
    "profiles; inter-frame codecs (H.264/VP9) stay stubbed.",
    tags=("multimodal", "udf", "video", "avi"),
)
def avi_raw_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.media import (
        encode_minimal_avi_raw,
    )
    from appengine_mapreduce_spark.operators.multimodal import (
        decode_video_frame_pixels,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id")
    )

    def encode(row):
        did = row.doc_id
        w, h, nf = 6 + did % 6, 4 + did % 4, 1 + did % 3
        frames = [
            [((did + f + x) % 256, (y * 2 + f) % 256,
              (x + y + did) % 256)
             for y in range(h) for x in range(w)]
            for f in range(nf)
        ]
        yield did, encode_minimal_avi_raw(frames, w, h)

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_video_frame_pixels(
        blobs, id_col="doc_id", content_col="content"
    )


@register(
    "flac_audio_features",
    oracle="""
        WITH base AS (
            SELECT doc_id, 300 + doc_id % 300 AS n
            FROM documents WHERE doc_id < 120
        ),
        samp AS (
            SELECT doc_id, n,
                   unnest(generate_series(0, n - 1)) AS i,
                   unnest(list_transform(
                       generate_series(0, n - 1),
                       i -> ((doc_id * 37 + i * i) % 7001) - 3500)) AS s
            FROM base
        ),
        lagged AS (
            SELECT doc_id, n, s,
                   lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
            FROM samp
        )
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INT)
                   AS n_channels,
               CAST(16000 AS INT) AS sample_rate,
               CAST(n AS BIGINT) AS n_samples,
               CAST(sum(s * s) AS BIGINT) AS sum_sq,
               CAST(max(abs(s)) AS INT) AS peak,
               CAST(sum(CASE WHEN prev IS NOT NULL
                              AND ((s >= 0) <> (prev >= 0))
                             THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        FROM lagged GROUP BY doc_id, n
    """,
    description="REAL LOSSLESS-COMPRESSED audio decode through the "
    "driver gate: each document synthesizes a deterministic 16-bit "
    "waveform, compresses it to a REAL FLAC stream (fixed-predictor "
    "subframes with Rice-coded residuals; odd docs stereo with mid/side "
    "decorrelation), and operators/multimodal.decode_flac_audio_features "
    "entropy-decodes it back — CRC-8/CRC-16 verified — to integer clip "
    "features the oracle recomputes from the generating formula. "
    "Losslessness is the contract: any Rice/predictor/stereo bug breaks "
    "the value hash. FLAC is fully algorithmic (no codec tables), so "
    "with PCM + G.711 + FLAC real, only perceptual codecs (MP3/AAC) "
    "remain stubbed.",
    tags=("multimodal", "udf", "audio", "flac"),
)
def flac_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.flac import (
        CH_MID_SIDE,
        encode_flac,
    )
    from appengine_mapreduce_spark.operators.multimodal import (
        decode_flac_audio_features,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
    )

    def encode(row):
        did = row.doc_id
        n = 300 + did % 300
        ch0 = [((did * 37 + i * i) % 7001) - 3500 for i in range(n)]
        if did % 2 == 0:
            blob = encode_flac([ch0], block_size=256)
        else:
            ch1 = [v // 3 for v in ch0]
            blob = encode_flac([ch0, ch1], block_size=256,
                               stereo_mode=CH_MID_SIDE)
        yield did, blob

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_flac_audio_features(
        blobs, id_col="doc_id", content_col="content"
    )


@register(
    "mrle_interframe_decode",
    oracle="""
        WITH params AS (
            SELECT doc_id, 7 + doc_id % 7 AS w, 5 + doc_id % 5 AS h,
                   2 + doc_id % 3 AS nf
            FROM documents WHERE doc_id < 100
        ),
        pal AS (
            SELECT list_transform(generate_series(0, 15),
                       k -> (k*16) % 256 + (k*7) % 256 + (k*29) % 256)
                       AS psum,
                   list_transform(generate_series(0, 15),
                       k -> least((k*16) % 256, (k*7) % 256,
                                  (k*29) % 256)) AS pmin,
                   list_transform(generate_series(0, 15),
                       k -> greatest((k*16) % 256, (k*7) % 256,
                                     (k*29) % 256)) AS pmax
        ),
        px AS (
            SELECT doc_id, w, h, nf,
                   unnest(generate_series(0, nf * w * h - 1)) AS t
            FROM params
        ),
        idx AS (
            SELECT doc_id, w, h, nf,
                   ((t % (w*h)) % w + (t % (w*h)) // w + doc_id
                    + CASE WHEN (t % (w*h)) // w < t // (w*h)
                           THEN 3 ELSE 0 END) % 16 AS k
            FROM px
        )
        SELECT doc_id,
               CAST(nf AS INT) AS n_frames,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(sum(psum[k + 1]) AS BIGINT) AS rgb_sum,
               CAST(min(pmin[k + 1]) AS INT) AS px_min,
               CAST(max(pmax[k + 1]) AS INT) AS px_max
        FROM idx, pal
        GROUP BY doc_id, nf, w, h
    """,
    description="REAL INTER-FRAME video decode through the driver gate: "
    "each document synthesizes an MS-RLE AVI whose wire format carries a "
    "keyframe plus TEMPORAL DELTA frames (only changed rows encoded; "
    "delta escapes skip unchanged content — measured 5x smaller than "
    "keyframes), and operators/multimodal.decode_mrle_video_stats "
    "composites each frame onto the running canvas before extracting "
    "statistics. The oracle recomputes per-frame content from the "
    "closed-form generating formula, so a MATCH proves the temporal "
    "compositing chain resolved every diff exactly. Video stubs narrow "
    "to motion-compensated codecs (H.264/VP9).",
    tags=("multimodal", "udf", "video", "mrle"),
)
def mrle_interframe_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.media import (
        encode_minimal_avi_mrle,
    )
    from appengine_mapreduce_spark.operators.multimodal import (
        decode_mrle_video_stats,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id")
    )
    palette = [((k * 16) % 256, (k * 7) % 256, (k * 29) % 256)
               for k in range(16)]

    def encode(row):
        did = row.doc_id
        w, h, nf = 7 + did % 7, 5 + did % 5, 2 + did % 3
        frames = [
            [(x + y + did + (3 if y < f else 0)) % 16
             for y in range(h) for x in range(w)]
            for f in range(nf)
        ]
        yield did, encode_minimal_avi_mrle(frames, w, h, palette)

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return decode_mrle_video_stats(
        blobs, id_col="doc_id", content_col="content"
    )


def _pagerank_oracle_sql(n_iter: int = 5, damping: float = 0.85) -> str:
    """Unrolled PageRank oracle: the fixed iteration count lets plain SQL
    replay the recurrence as chained CTE stages (no recursive CTE with
    aggregation needed); round(9) per stage pins the floats."""
    head = """
        WITH e AS MATERIALIZED (
            SELECT DISTINCT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        nodes AS MATERIALIZED (
            SELECT s AS node FROM e UNION SELECT d FROM e),
        nn AS (SELECT count(*) AS n FROM nodes),
        deg AS MATERIALIZED (SELECT s, count(*) AS deg FROM e GROUP BY s),
        pr0 AS (SELECT node, round(1.0 / nn.n, 9) AS rank
                FROM nodes CROSS JOIN nn)"""
    stages = []
    for i in range(1, n_iter + 1):
        p = f"pr{i - 1}"
        stages.append(f""",
        dang{i} AS (
            SELECT coalesce(sum(r.rank), 0) AS mass
            FROM {p} r LEFT JOIN deg ON r.node = deg.s
            WHERE deg.s IS NULL
        ),
        contrib{i} AS (
            SELECT e.d AS node, sum(r.rank / deg.deg) AS c
            FROM {p} r
              JOIN deg ON r.node = deg.s
              JOIN e ON e.s = r.node
            GROUP BY e.d
        ),
        pr{i} AS (
            SELECT n.node,
                   round((1 - {damping}) / nn.n
                         + {damping} * (coalesce(c.c, 0)
                             + dang{i}.mass / nn.n), 9) AS rank
            FROM nodes n
              LEFT JOIN contrib{i} c ON n.node = c.node
              CROSS JOIN nn CROSS JOIN dang{i}
        )""")
    return (
        head + "".join(stages)
        + f"""
        SELECT node, rank FROM pr{n_iter}
        ORDER BY rank DESC, node LIMIT 50
    """
    )


@register(
    "pagerank_suppliers",
    oracle=_pagerank_oracle_sql(),
    description="PageRank over the customer->supplier purchase graph "
    "(distinct orders x lineitem pairs; bipartite, so every supplier is "
    "a dangling node and the uniform dangling-mass redistribution is "
    "load-bearing, not a corner case). FIVE fixed iterations with "
    "round(9) per stage — the first ITERATIVE operator with a full "
    "value-hash oracle: the fixed count unrolls into chained SQL CTEs, "
    "and per-iteration rounding makes both engines' floats identical "
    "despite different summation orders. Per iteration the plan is one "
    "src-keyed join + one dst-keyed aggregation (constant shuffle keys "
    "across rounds — pre-partition the edges on src at 100 TB and only "
    "the contribution agg re-shuffles); lineage truncated per round.",
    tags=("graph", "iterative", "pagerank"),
)
def pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.graph import pagerank

    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank(edges, n_iterations=5, damping=0.85)
    return ranks.orderBy(F.col("rank").desc(), F.col("node")).limit(50)


def kmeans_cte_chain(k: int = 8, dim: int = 64, n_iter: int = 3,
                     where: str = "") -> str:
    """Unrolled Lloyd's CTE chain (same technique as the PageRank
    oracle): fixed iterations -> chained CTE stages, ending at
    ``c{n_iter}`` = (cluster, dim, val) final centroids, with ``v`` =
    (vec_id, dim, val) still in scope. Long-format centroids;
    assignment = row_number over (dist, cluster) so ties break to the
    lowest cluster exactly like the Spark when-chain; per-iteration
    round(9) pins the FP means; empty clusters keep the previous
    centroid (coalesce against the prior stage). Spark's early
    convergence break is consistent with the fixed unroll because a
    converged stage is a fixpoint. Shared by the centroid oracle below
    and the cluster-profile oracle in queries_text2 (which appends a
    final assignment stage). ``where`` (e.g. " WHERE vec_id >= 50")
    restricts BOTH the training vectors and the init pick to a corpus
    slice — the stored-corpus side of incremental index maintenance;
    the default empty string leaves the emitted SQL byte-identical to
    the pre-parameter version."""
    head = f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id,
                   unnest(generate_series(0, {dim - 1})) AS dim,
                   unnest(list_transform(generate_series(1, {dim}),
                          i -> CAST(embedding[i] AS DOUBLE))) AS val
            FROM embeddings{where}
        ),
        init AS (
            SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster
            FROM embeddings{where} ORDER BY vec_id LIMIT {k}
        ),
        c0 AS MATERIALIZED (
            -- no rounding: float32 -> double is exact and identical in
            -- both engines, and Spark's init uses the raw values
            SELECT i.cluster, v.dim, v.val
            FROM init i JOIN v USING (vec_id)
        )"""
    stages = []
    for t in range(1, n_iter + 1):
        p = f"c{t - 1}"
        stages.append(f""",
        d{t} AS (
            SELECT v.vec_id, c.cluster,
                   sum((v.val - c.val) * (v.val - c.val)) AS dist
            FROM v JOIN {p} c USING (dim)
            GROUP BY v.vec_id, c.cluster
        ),
        a{t} AS (
            SELECT vec_id, cluster FROM (
                SELECT vec_id, cluster,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cluster) AS rn
                FROM d{t}
            ) WHERE rn = 1
        ),
        m{t} AS (
            SELECT a.cluster, v.dim, round(avg(v.val), 9) AS val
            FROM a{t} a JOIN v USING (vec_id)
            GROUP BY a.cluster, v.dim
        ),
        c{t} AS (
            SELECT p.cluster, p.dim, coalesce(m.val, p.val) AS val
            FROM {p} p LEFT JOIN m{t} m
              ON p.cluster = m.cluster AND p.dim = m.dim
        )""")
    return head + "".join(stages)


def _kmeans_oracle_sql(k: int = 8, dim: int = 64, n_iter: int = 3) -> str:
    return (
        kmeans_cte_chain(k, dim, n_iter)
        + f"""
        SELECT CAST(cluster AS INT) AS cluster, CAST(dim AS INT) AS dim,
               val AS centroid
        FROM c{n_iter}
    """
    )


@register(
    "kmeans_centroids_oracled",
    oracle=_kmeans_oracle_sql(),
    description="ITERATIVE ML TRAINING WITH A FULL ORACLE: 3 fixed "
    "Lloyd's iterations (k=8) over the embeddings table, centroids "
    "value-hash-compared against an unrolled chained-CTE replay in "
    "DuckDB — the same fixed-N technique as the PageRank oracle, "
    "upgrading k-means from a rows-only check to exact cross-engine "
    "verification. Per-iteration round(9) pins FP means; assignment "
    "ties break to the lowest cluster in both engines; empty clusters "
    "keep their previous centroid. The k x dim model (512 doubles) is "
    "the ONLY thing that crosses to the driver per round — the corpus "
    "shuffles once per iteration for the dim-keyed mean aggregation.",
    tags=("clustering", "iterative", "ml"),
)
def kmeans_centroids_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.clustering import kmeans

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids, _assign = kmeans(emb, k=8, n_iterations=3)
    rows = [
        (ci, di, float(v))
        for ci, cent in enumerate(centroids)
        for di, v in enumerate(cent)
    ]
    return spark.createDataFrame(
        rows, "cluster int, dim int, centroid double"
    )


@register(
    "mergeable_sketches",
    oracle=None,  # sketch estimates are engine-specific (Apache
    # DataSketches registers); rows-only here — the SELF-VALIDATING
    # twin sketch_merge_consistency (below) carries the hash-matched
    # driver witness, and exactness-tolerance / merge-consistency are
    # also pytest-pinned (tests/test_operators.py::test_mergeable_*).
    description="Mergeable-sketch pre-aggregation (Apache DataSketches "
    "via Spark built-ins): per-event-type HLL sketches of distinct "
    "users + KLL quantile sketches of the value column, merged with "
    "hll_union_agg / kll_sketch_merge into global estimates WITHOUT "
    "re-scanning — the store-per-shard-then-merge pattern that makes "
    "distinct counts and quantiles incrementally maintainable at "
    "100 TB (a full re-scan per refresh is the alternative). Sketch "
    "bytes are the only state; merge is associative, so shard "
    "sketches roll up along any tree.",
    tags=("sketch", "aggregation", "training-data"),
)
def mergeable_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("hll"),
        F.kll_sketch_agg_double(F.col("value").cast("double")).alias("kll"),
    )
    per_type_est = per_type.select(
        "event_type",
        F.hll_sketch_estimate("hll").alias("distinct_users_est"),
        F.kll_sketch_get_quantile_double("kll", F.lit(0.5)).alias(
            "median_value_est"),
    )
    # hll_union_agg merges HLL sketches across rows; KLL's merge is a
    # binary scalar, so fold the (group-count-sized) sketch list
    kll_list = F.collect_list("kll")
    merged_kll = F.aggregate(
        F.slice(kll_list, 2, 1_000_000),
        F.element_at(kll_list, 1),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias(
            "distinct_users_est"),
        F.kll_sketch_get_quantile_double(merged_kll, F.lit(0.5)).alias(
            "median_value_est"),
    ).select(F.lit("__ALL__").alias("event_type"), "distinct_users_est",
             "median_value_est")
    return per_type_est.unionByName(merged).orderBy("event_type")


@register(
    "sketch_merge_consistency",
    oracle="""
        SELECT COUNT(DISTINCT user_id) AS exact_users,
               1 AS hll_direct_within_5pct,
               1 AS hll_merge_within_5pct,
               1 AS kll_median_rank_ok
        FROM events
    """,
    description="SELF-VALIDATING oracle twin of mergeable_sketches (the "
    "DataSketches estimates are engine-specific, so that query is "
    "rows-only by design): one plan computes the exact distinct-user "
    "count, the direct global HLL estimate, the per-type-sketches-then-"
    "union HLL estimate, and the empirical rank of the merged-KLL "
    "median, then emits within-tolerance flags DuckDB replays alongside "
    "the exact count. Bounds are wide vs measured behavior (HLL err "
    "<= 0.8% at sf0.1 incl. the union's sparse/dense re-promotion loss; "
    "KLL median rank 0.499-0.501 vs the 0.45-0.55 gate), so a green "
    "hash certifies estimate quality AND merge consistency without "
    "pinning engine-specific sketch bytes.",
    tags=("sketch", "aggregation", "oracle-twin", "scalar-cross"),
)
def sketch_merge_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("hll"),
        F.kll_sketch_agg_double(F.col("value").cast("double")).alias("kll"),
    )
    kll_list = F.collect_list("kll")
    merged_kll = F.aggregate(
        F.slice(kll_list, 2, 1_000_000),
        F.element_at(kll_list, 1),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("hll_merged"),
        F.kll_sketch_get_quantile_double(merged_kll, F.lit(0.5)).alias(
            "kll_median"),
    )
    # merged is one row (group-count-sized state); broadcast it back
    # over the events scan so the exact side, the direct sketch and the
    # median's empirical rank all come out of one aggregation.
    row = ev.crossJoin(F.broadcast(merged)).agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
            "hll_direct"),
        F.first("hll_merged").alias("hll_merged"),
        F.avg(
            (F.col("value").cast("double") <= F.col("kll_median"))
            .cast("double")
        ).alias("mrank"),
    )
    tol = 0.05 * F.col("exact_users")
    return row.select(
        "exact_users",
        (F.abs(F.col("hll_direct") - F.col("exact_users")) <= tol)
        .cast("int").alias("hll_direct_within_5pct"),
        (F.abs(F.col("hll_merged") - F.col("exact_users")) <= tol)
        .cast("int").alias("hll_merge_within_5pct"),
        ((F.col("mrank") >= 0.45) & (F.col("mrank") <= 0.55))
        .cast("int").alias("kll_median_rank_ok"),
    )


@register(
    "adpcm_audio_features",
    oracle="""
        WITH RECURSIVE params AS (
            SELECT doc_id, 33 + 2 * (doc_id % 24) AS n,
                   ((doc_id * 97) % 2048) - 1024 AS pred0,
                   doc_id % 89 AS idx0
            FROM documents WHERE doc_id < 200
        ),
        dec AS (
            SELECT doc_id, n, 0 AS i,
                   CAST(pred0 AS INT) AS pred, CAST(idx0 AS INT) AS idx
            FROM params
            UNION ALL
            SELECT doc_id, n, i + 1,
                   CAST(LEAST(32767, GREATEST(-32768,
                       CASE WHEN nib >= 8 THEN pred - diff
                            ELSE pred + diff END)) AS INT),
                   CAST(LEAST(88, GREATEST(0,
                       idx + [-1,-1,-1,-1,2,4,6,8][(nib % 8) + 1])) AS INT)
            FROM (
                SELECT doc_id, n, i, pred, idx, nib,
                       step // 8
                       + CASE WHEN nib % 2 = 1 THEN step // 4 ELSE 0 END
                       + CASE WHEN (nib // 2) % 2 = 1
                              THEN step // 2 ELSE 0 END
                       + CASE WHEN (nib // 4) % 2 = 1
                              THEN step ELSE 0 END AS diff
                FROM (
                    SELECT d.*,
                           (doc_id * 13 + i * 5 + (i * i) % 16) % 16
                               AS nib,
                           [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][idx + 1] AS step
                    FROM dec d WHERE i < n - 1
                )
            )
        ),
        lagged AS (
            SELECT doc_id, pred AS s,
                   lag(pred) OVER (PARTITION BY doc_id ORDER BY i) AS prev
            FROM dec
        )
        SELECT doc_id, count(*) AS n_samples,
               CAST(sum(s * s) AS BIGINT) AS sum_sq,
               CAST(max(abs(s)) AS INT) AS peak,
               CAST(sum(CASE WHEN prev IS NOT NULL
                              AND ((s >= 0) <> (prev >= 0))
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS zero_crossings
        FROM lagged GROUP BY doc_id
    """,
    description="REAL PREDICTIVE-audio sample decode through the driver "
    "gate: IMA ADPCM (DVI4; WAV format 0x11) — 4-bit differential coding "
    "with adaptive step size, the third lossy-codec family after "
    "companded G.711 and transform-free FLAC. Deterministic nibble "
    "streams + per-doc initial (predictor, step-index) block headers are "
    "pinned by the fixture encoder "
    "(functions/media.encode_wav_adpcm_nibbles), decoded via the "
    "published IMA recurrence (ima_adpcm_decode_nibbles, byte-exact "
    "cross-validated against CPython stdlib audioop's INDEPENDENT "
    "implementation), then integer-exact clip features. The oracle "
    "replays the decoder STATE MACHINE in a recursive CTE — step table, "
    "clamps, index walk and all — so the MATCH proves the sequential "
    "codec arithmetic itself, engine-vs-engine. (Reference analog: "
    "map-side blob processing, python/src/mapreduce/input_readers.py "
    "BlobstoreZipInputReader-style per-blob decode fan-out.)",
    tags=("multimodal", "udf", "audio", "adpcm"),
)
def adpcm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.media import (
        encode_wav_adpcm_nibbles,
    )
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
        n = 33 + 2 * (did % 24)
        nibs = [(did * 13 + i * 5 + (i * i) % 16) % 16
                for i in range(n - 1)]
        pred0 = ((did * 97) % 2048) - 1024
        idx0 = did % 89
        yield did, encode_wav_adpcm_nibbles(nibs, pred0, idx0)

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return audio_pcm_features(blobs, id_col="doc_id", content_col="content")


@register(
    "adpcm_stereo_features",
    oracle="""
        WITH RECURSIVE params AS (
            SELECT doc_id, ch, 1 + 8 * (2 + doc_id % 12) AS n,
                   ((doc_id * 97 + ch * 501) % 2048) - 1024 AS pred0,
                   (doc_id + 17 * ch) % 89 AS idx0
            FROM documents, (SELECT unnest([0, 1]) AS ch)
            WHERE doc_id < 150
        ),
        dec AS (
            SELECT doc_id, ch, n, 0 AS i,
                   CAST(pred0 AS INT) AS pred, CAST(idx0 AS INT) AS idx
            FROM params
            UNION ALL
            SELECT doc_id, ch, n, i + 1,
                   CAST(LEAST(32767, GREATEST(-32768,
                       CASE WHEN nib >= 8 THEN pred - diff
                            ELSE pred + diff END)) AS INT),
                   CAST(LEAST(88, GREATEST(0,
                       idx + [-1,-1,-1,-1,2,4,6,8][(nib % 8) + 1])) AS INT)
            FROM (
                SELECT doc_id, ch, n, i, pred, idx, nib,
                       step // 8
                       + CASE WHEN nib % 2 = 1 THEN step // 4 ELSE 0 END
                       + CASE WHEN (nib // 2) % 2 = 1
                              THEN step // 2 ELSE 0 END
                       + CASE WHEN (nib // 4) % 2 = 1
                              THEN step ELSE 0 END AS diff
                FROM (
                    SELECT d.*,
                           (doc_id * 13 + ch * 7 + i * 5 + (i * i) % 16)
                               % 16 AS nib,
                           [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][idx + 1] AS step
                    FROM dec d WHERE i < n - 1
                )
            )
        ),
        lagged AS (
            SELECT doc_id, ch, pred AS s,
                   lag(pred) OVER (PARTITION BY doc_id, ch ORDER BY i)
                       AS prev
            FROM dec
        )
        SELECT doc_id, CAST(ch AS INT) AS channel,
               count(*) AS n_samples,
               CAST(sum(s * s) AS BIGINT) AS sum_sq,
               CAST(max(abs(s)) AS INT) AS peak,
               CAST(sum(CASE WHEN prev IS NOT NULL
                              AND ((s >= 0) <> (prev >= 0))
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS zero_crossings
        FROM lagged GROUP BY doc_id, ch
    """,
    description="STEREO IMA ADPCM sample decode (the mono decoder "
    "alone would refuse these files): the WAV 0x11 multi-channel "
    "layout — per-channel block headers + 4-byte nibble words "
    "interleaved per channel. Per-channel pinned nibble streams and "
    "initial (predictor, step-index) states come from the stereo "
    "fixture encoder (functions/media.encode_wav_adpcm_nibbles_multi), "
    "decode runs the shared channel-independent IMA recurrence "
    "(audioop-cross-validated; the interleave layout is pinned by the "
    "stereo==per-channel-mono equivalence pytest), and features are "
    "per-CHANNEL integer-exact clip stats via "
    "operators/multimodal.audio_pcm_features_per_channel — a silent or "
    "clipped channel cannot hide inside whole-clip aggregates. The "
    "oracle replays BOTH channels' decoder state machines in one "
    "recursive CTE keyed by (doc_id, ch).",
    tags=("multimodal", "udf", "audio", "adpcm"),
)
def adpcm_stereo_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.core.adapters import map_rows
    from appengine_mapreduce_spark.functions.media import (
        encode_wav_adpcm_nibbles_multi,
    )
    from appengine_mapreduce_spark.operators.multimodal import (
        audio_pcm_features_per_channel,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id")
    )

    def encode(row):
        did = row.doc_id
        n = 8 * (2 + did % 12)
        nibs = [
            [(did * 13 + ch * 7 + i * 5 + (i * i) % 16) % 16
             for i in range(n)]
            for ch in (0, 1)
        ]
        preds = [((did * 97 + ch * 501) % 2048) - 1024
                 for ch in (0, 1)]
        idxs = [(did + 17 * ch) % 89 for ch in (0, 1)]
        yield did, encode_wav_adpcm_nibbles_multi(nibs, preds, idxs)

    blobs = map_rows(docs, encode, "doc_id bigint, content binary")
    return audio_pcm_features_per_channel(
        blobs, id_col="doc_id", content_col="content")
