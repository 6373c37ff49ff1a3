"""End-to-end training-corpus preparation: the corpus operators chained
the way a real pipeline runs them — scrub → dedup → stratified mix →
token-budget packing → bucketed write — with invariants asserted at every
stage. One coherent flow, not isolated unit checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT


def test_prepare_training_corpus_end_to_end(spark, tmp_path):
    from appengine_mapreduce_spark.functions.text import nonempty_tokens
    from appengine_mapreduce_spark.operators.dedup import exact_dedup
    from appengine_mapreduce_spark.operators.sampling import (
        pack_by_token_budget, stratified_sample,
    )
    from appengine_mapreduce_spark.operators.text_analysis import (
        language_id, quality_score,
    )

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    n_raw = docs.count()

    # 1. scrub: drop unknown-language and low-quality docs
    lang = language_id(docs)
    qual = quality_score(docs).select("doc_id", "quality")
    kept = (
        docs.join(lang, "doc_id").join(qual, "doc_id")
        .filter((F.col("pred_lang") != "und") & (F.col("quality") >= 0.35))
    )
    n_kept = kept.count()
    assert 0 < n_kept < n_raw

    # 2. exact dedup: one representative per distinct text
    deduped_keys = exact_dedup(kept).select("doc_id")
    deduped = kept.join(deduped_keys, "doc_id")
    n_dedup = deduped.count()
    assert n_dedup <= n_kept
    assert deduped.select("text").distinct().count() == n_dedup

    # 3. stratified mix: downsample English
    mixed = stratified_sample(
        deduped, key="doc_id", strata_col="lang",
        fractions={"en": 0.3, "zh": 1.0, "de": 1.0, "fr": 1.0, "es": 1.0},
    )
    by_lang_before = dict(
        deduped.groupBy("lang").count().rdd.map(tuple).collect()
    )
    by_lang_after = dict(mixed.groupBy("lang").count().rdd.map(tuple).collect())
    assert by_lang_after["en"] < by_lang_before["en"]
    for lg in ("zh", "de", "fr", "es"):
        assert by_lang_after.get(lg, 0) == by_lang_before.get(lg, 0)

    # 4. pack into ≈512-token bins per language
    sized = mixed.select(
        "doc_id", "lang", "text",
        F.size(nonempty_tokens(F.col("text"))).alias("n_tokens"),
    )
    packed = pack_by_token_budget(
        sized, tokens_col="n_tokens", budget=512,
        order_col="doc_id", partition_col="lang",
    )
    bins = packed.groupBy("lang", "bin").agg(F.sum("n_tokens").alias("toks"))
    # every non-final bin of each language holds ≥ budget−(max doc) tokens;
    # simply assert bins are dense 0..max per language
    for r in bins.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_bins"), F.max("bin").alias("max_bin")
    ).collect():
        assert r.n_bins == r.max_bin + 1, r

    # 5. write the final corpus partitioned by (lang) and read it back
    out = str(tmp_path / "training_corpus")
    packed.write.partitionBy("lang").mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == packed.count()
    assert {r.doc_id for r in back.select("doc_id").collect()} == {
        r.doc_id for r in packed.select("doc_id").collect()
    }
