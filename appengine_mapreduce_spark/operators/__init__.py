"""Reusable DataFrame operators.

``shuffle``       — the reference's shuffle/reducer semantics as DataFrame
                    ops (group-by-key collation, distinct, chunked collect,
                    reduce-side cogroup).
``dedup``         — exact + near-duplicate detection (md5, MinHash+LSH,
                    SimHash, n-gram Jaccard) for training-data pipelines.
``similarity``    — embedding similarity search (brute-force cosine top-k,
                    sign-LSH bucketed ANN).
``clustering``    — distributed k-means (IVF list building).
``graph``         — connected components / dedup clustering.
``joins``         — as-of join, salted skew join.
``sampling``      — deterministic samples, train/test split, profiling.
``text_analysis`` — language-ID, quality scoring, token stats, fingerprints.
``multimodal``    — binary media columns: dependency-free decoders (PNG
                    full; JPEG through one decoder for baseline and
                    progressive, gray and colour; WAV/ADPCM/FLAC audio;
                    GIF/TIFF/BMP pixels; MP4 metadata + frame tables; AVI
                    MJPEG/raw/MS-RLE frames) over Arrow batching.
``merge``         — MERGE upsert / SCD2 dimension history.
``cdc``           — snapshot diff + incremental aggregate maintenance.
``compaction``    — small-file compaction (byte-targeted, atomic swap).
``backfill``      — per-partition backfill with commit markers.
``quality_checks``— declarative data-quality gates (one-pass).
``footer_stats``  — scan-free parquet footer statistics.
"""

from appengine_mapreduce_spark.operators import (  # noqa: F401
    dedup,
    shuffle,
    similarity,
    text_analysis,
)
