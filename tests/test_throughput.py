"""Generator-path throughput guardrail.

BASELINE.md target: ≥1M records/sec aggregate through the generator-UDF
path (the reference's own design cap, parameters.py:222). Measured
~4.1M rec/s on local[32]; the floor here is deliberately conservative
because this VM shows ~8% CPU steal with multi-second bursts.
"""

from __future__ import annotations

import time
from types import SimpleNamespace

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from appengine_mapreduce_spark.core.adapters import run_mapper, run_reducer
from appengine_mapreduce_spark.core.counters import Counters
from appengine_mapreduce_spark.core.worker import MapOnlyMapper, Reducer
from tests.test_reducer_streaming import _Frame

N = 2_000_000
FLOOR_RECORDS_PER_SEC = 250_000


class _PassThrough(MapOnlyMapper):
    def __call__(self, ctx, row):
        if row.v % 10 != 0:
            yield (row.id, row.v * 2)


def test_generator_path_throughput(spark):
    df = spark.range(0, N, 1, spark.sparkContext.defaultParallelism).select(
        F.col("id"), (F.col("id") % 1000).alias("v")
    )
    schema = StructType.fromDDL("id bigint, v2 bigint")
    counters = Counters(spark.sparkContext)
    run_mapper(df, _PassThrough(), schema, counters.accumulator).count()  # warm

    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        n_out = run_mapper(df, _PassThrough(), schema, counters.accumulator).count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    assert n_out == N * 9 // 10
    rate = N / best
    assert rate >= FLOOR_RECORDS_PER_SEC, f"only {rate:,.0f} rec/s"


def _schema(**types) -> StructType:
    """A ``StructType`` built without a session (``fromDDL`` parses in the
    JVM)."""
    return StructType([StructField(name, t) for name, t in types.items()])


class _IndexReducer(Reducer):
    """``(word, lines containing it, first offset)``, as the Index demo."""

    def __call__(self, ctx, key, values):
        n = 0
        first = None
        for v in values:
            n += 1
            if first is None or v < first:
                first = v
        yield (key, n, first)


def test_reducer_seam_throughput():
    """Reduce-seam guardrail, no Spark: ~344k (key, offset) values, sorted
    and cut into 10k-row Arrow batches as the shuffle hands them over,
    through ``run_reducer``'s partition function with an Index-demo
    reducer. Three key columns: words over a 1,000-word zipf vocabulary;
    the same with 90% null keys; and doubles with 90% NaN keys. The
    run-boundary reader moves 6.6-16M values/s on each on a 4-core box. A
    reader that builds one Python tuple per value (``to_pylist`` on both
    columns, then ``groupby``) moves 0.5-0.8M/s on the words and fails the
    2M/s floor. One that cuts a run at every null or NaN key moves 1-2.5M/s
    on those inputs, under a fifth of its rate on the words, and fails the
    check that they run at least half as fast as the words."""
    import math
    import random
    from collections import Counter

    import pyarrow as pa

    rnd = random.Random(7)
    vocab = [f"w{i:04d}" for i in range(1000)]
    weights = [1 / (i + 1) ** 1.2 for i in range(1000)]
    words = sorted(rnd.choices(vocab, weights, k=344_000))
    offsets = [rnd.randrange(1 << 40) for _ in words]
    tail = len(words) // 10  # Spark sorts nulls first and NaNs last
    inputs = {
        "words": (words, StringType(), pa.string()),
        "null words": ([None] * (len(words) - tail) + words[-tail:], StringType(), pa.string()),
        "NaN doubles": (
            [float(w[1:]) for w in words[:tail]] + [math.nan] * (len(words) - tail),
            DoubleType(),
            pa.float64(),
        ),
    }
    rates = {}
    for name, (keys, key_type, arrow_type) in inputs.items():
        batches = [
            pa.record_batch([pa.array(keys[i:i + 10_000], arrow_type),
                             pa.array(offsets[i:i + 10_000])], names=["word", "offset"])
            for i in range(0, len(keys), 10_000)
        ]
        counts: Counter = Counter()
        run = run_reducer(
            _Frame(["word", "offset"], _schema(word=key_type, offset=LongType())),
            _IndexReducer(),
            _schema(word=key_type, n=LongType(), first=LongType()),
            SimpleNamespace(add=counts.update), key_col="word", value_cols=["offset"],
        )
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            out = [r for b in run(iter(batches)) for r in zip(*b.to_pydict().values())]
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        n_keys = len(set(keys))  # one None and one ``math.nan`` object
        assert len(out) == n_keys and sum(n for _, n, _ in out) == len(keys), name
        assert counts["reducer-calls"] == 3 * n_keys, name
        rates[name] = len(keys) / best
        assert rates[name] >= 2_000_000, f"{name}: only {rates[name]:,.0f} values/s"
    for name in ("null words", "NaN doubles"):
        assert rates[name] >= rates["words"] / 2, rates


def test_codec_path_throughput():
    """Decode-path guardrail: the numpy-vectorized
    JPEG IDCT + accumulator bit reader deliver ~165 64x64-img/s/core and
    the PNG inflate+unfilter ~550/s/core on this VM; floors are ~4x under
    measurement so CPU steal can't flake them, but a silently
    reintroduced per-pixel Python loop (10-30x slower) fails here."""
    import random

    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        decode_gray,
        encode_baseline_gray,
    )
    from appengine_mapreduce_spark.functions.png import decode_png, encode_png

    rnd = random.Random(3)
    pix = [rnd.randrange(256) for _ in range(64 * 64)]
    jblob = encode_baseline_gray(pix, 64, 64)
    decode_gray(jblob)  # warm LUTs
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < 1.0:
        decode_gray(jblob)
        n += 1
    assert n >= 40, f"JPEG decode only {n} img/s/core"

    raw = bytes(rnd.randrange(256) for _ in range(64 * 64 * 3))
    pblob = encode_png(64, 64, raw, color_type=2,
                       row_filters=[y % 5 for y in range(64)])
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < 1.0:
        decode_png(pblob)
        n += 1
    assert n >= 120, f"PNG decode only {n} img/s/core"


def test_round5_codec_throughput_floors():
    """Conservative single-core floors for the FLAC/GIF/mu-law/PackBits
    codecs so a
    reintroduced quadratic loop fails loudly. Measured on the build box:
    FLAC ~690k samples/s, GIF LZW ~5-70M px/s (data-dependent), mu-law
    ~6M samples/s, PackBits ~280 MB/s — floors set 5-10x under."""
    import math
    import random
    import time

    from appengine_mapreduce_spark.functions.flac import (
        decode_flac,
        encode_flac,
    )
    from appengine_mapreduce_spark.functions.media import (
        gif_lzw_decode,
        gif_lzw_encode,
        mulaw_expand,
        packbits_decode,
        packbits_encode,
    )

    x = [int(8000 * math.sin(i * 0.05)) for i in range(30000)]
    blob = encode_flac([x], block_size=4096)
    t0 = time.perf_counter()
    decode_flac(blob)
    rate = 30000 / (time.perf_counter() - t0)
    assert rate >= 100_000, f"FLAC decode {rate:.0f} samples/s"

    rng = random.Random(1)
    pat = [rng.randrange(64) for _ in range(9)]
    px = (pat * 8000)[:64000]
    data = gif_lzw_encode(px, 6)
    t0 = time.perf_counter()
    gif_lzw_decode(data, 6, len(px))
    rate = 64000 / (time.perf_counter() - t0)
    assert rate >= 2_000_000, f"GIF LZW decode {rate:.0f} px/s"

    t0 = time.perf_counter()
    for _ in range(20):
        [mulaw_expand(b) for b in range(256)]
    rate = 20 * 256 / (time.perf_counter() - t0)
    assert rate >= 500_000, f"mu-law expand {rate:.0f} samples/s"

    raw = bytes((i * 7) % 251 for i in range(100_000))
    enc = packbits_encode(raw)
    t0 = time.perf_counter()
    packbits_decode(enc, len(raw))
    rate = 100_000 / (time.perf_counter() - t0)
    assert rate >= 10_000_000, f"PackBits decode {rate:.0f} B/s"
