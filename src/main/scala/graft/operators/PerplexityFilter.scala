package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/** CCNet-style perplexity quality bucketing (Wenzek et al. 2019,
  * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
  * Data"): train a language model on a CURATED reference slice, score
  * every document's per-token cross-entropy under it, and cut the
  * corpus into equal-count quality tiers — head (reads most like the
  * reference), middle, tail. The selection step most large pretraining
  * pipelines run between dedup and mixing; DSIR ([[Dsir]]) is the
  * importance-weight cousin, this is the original perplexity form.
  *
  * Model: add-one-smoothed bigram LM (the in-scope analog of CCNet's
  * KenLM 5-gram; the [[graft.operators.TextRank.kneserNeyBigram]]
  * machinery scores with KN smoothing if a caller wants it) —
  * `P(b|a) = (cnt(a,b) + 1) / (ctx(a) + V)` with cnt/ctx from the
  * reference slice's bigrams and V its distinct-token count, so unseen
  * bigrams and unseen contexts degrade smoothly to ~1/V instead of
  * -inf. Cross-entropy per doc = -mean ln P over its bigrams; docs
  * with fewer than 2 tokens are excluded (no bigram evidence — the
  * t16 convention).
  *
  * Exactness (the t12 recipe): each ln term is the double ratio of
  * exact integers, quantized DECIMAL(28,14) before the per-doc sum;
  * tiers come from a [[SequentialIds]] rank on (round(ce, 6), doc) —
  * a total order both engines reproduce — so bucket membership, and
  * the gate hash, replay bit-for-bit.
  *
  * Scale shape: one token explode; the context-total table broadcasts
  * only while its measured vocabulary bound `v` stays under
  * [[CtxBroadcastMaxVocab]] (a web-scale reference's Heaps-law vocab
  * would OOM a forced hint), the bigram-count table (vocab² worst
  * case — corpus-sized, NOT vocab-sized) joins unhinted so Spark
  * broadcasts it only while it fits; the rank is the one range exchange
  * any global tiering costs; the result is `nBuckets` rows. Nothing
  * driver-side beyond V (one long) and the SequentialIds partition
  * counts.
  */
object PerplexityFilter {

  /** Broadcast the context-totals table only while the measured
    * reference vocabulary stays under this many distinct tokens
    * (~2M rows ≈ low-hundreds of MB hashed — comfortable on a driver;
    * a Heaps-law web-scale reference slice runs 10⁸–10⁹ and would OOM
    * a forced hint Spark cannot refuse). */
  val CtxBroadcastMaxVocab: Long = 2000000L

  /** (bucket, n_docs, ce_min, ce_max) per quality tier, bucket 0 =
    * lowest cross-entropy (most reference-like). `refPred` marks the
    * curated training slice. */
  def buckets(docs: DataFrame, idCol: String, textCol: String,
      refPred: Column, nBuckets: Int = 3,
      ctxBroadcastMaxVocab: Long = CtxBroadcastMaxVocab): DataFrame = {
    require(nBuckets >= 2, "need at least 2 quality tiers")
    // persisted: toks has three consumers (model counts, V collect,
    // scoring explode) and perDoc two (n = count(), the rank pass); r15
    // A/B (sf0.1, min-of-4): t29 1.83 s materialized vs 2.26 s lazy
    val toks = docs.select(col(idCol).as("doc"), refPred.as("_ref"),
      T.tokens(lower(col(textCol))).as("tk"))
      .filter(size(col("tk")) >= 2)
      .persist()
    val bi = toks.select(col("doc"), col("_ref"),
      explode(expr("transform(sequence(0, size(tk) - 2), " +
        "i -> struct(tk[i] AS a, tk[i + 1] AS b))")).as("p"))
      .select(col("doc"), col("_ref"), col("p.a").as("a"),
        col("p.b").as("b"))
    val refBi = bi.filter(col("_ref"))
    val cnt = refBi.groupBy("a", "b").agg(count(lit(1)).as("cnt"))
    val ctx = cnt.groupBy("a").agg(sum(col("cnt")).as("ctx"))
    // V collects as ONE long (the model's smoothing denominator is a
    // plan literal) — and a degenerate empty reference fails loudly
    // here instead of scoring every doc against a vacuous model; the
    // try guard releases the cache on that failure path (a long-lived
    // session issuing failing calls must not accumulate cached blocks)
    val v =
      try {
        val n = toks.filter(col("_ref"))
          .select(explode(col("tk")).as("w"))
          .agg(countDistinct(col("w"))).collect()(0).getLong(0)
        require(n > 0, "reference slice has no >=2-token documents")
        n
      } catch { case e: Throwable => toks.unpersist(); throw e }
    // ctx is CONTEXT-typed — at most one row per distinct reference
    // token, and `v` IS that bound, already collected for the smoothing
    // denominator. So the broadcast hint is gated on the measured count
    // instead of forced: a curated CCNet-style slice (v ≪ 2M) skips the
    // corpus-sided shuffle, while a Heaps-law web-scale reference
    // (v ~ 10⁸–10⁹) falls through to the unhinted join, where AQE still
    // runtime-converts if the ctx shuffle turns out small. cnt is
    // BIGRAM-typed (vocab² worst case) and has no cheap bound, so it is
    // always unhinted.
    val ctxJ = if (v <= ctxBroadcastMaxVocab) broadcast(ctx) else ctx
    val perDoc = bi
      .join(cnt, Seq("a", "b"), "left")
      .join(ctxJ, Seq("a"), "left")
      .groupBy("doc")
      .agg(((-sum(expr(("ln((coalesce(cnt, 0) + 1) / " +
        s"CAST(coalesce(ctx, 0) + $v AS DOUBLE))"))
        .cast("decimal(28,14)")).cast("double")) / count(lit(1)))
        .as("ce"))
      .localCheckpoint(true)
    toks.unpersist()
    val n = perDoc.count()
    val ranked = SequentialIds.assign(perDoc,
      Seq(round(col("ce"), 6), col("doc")), "_gid")
    ranked
      .withColumn("bucket", expr(s"_gid * $nBuckets div $n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(round(col("ce"), 4)).as("ce_min"),
        max(round(col("ce"), 4)).as("ce_max"))
      .orderBy("bucket")
  }
}
