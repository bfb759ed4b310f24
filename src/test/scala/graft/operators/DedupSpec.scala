package graft.operators

import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Join, Window}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "THE  QUICK brown fox jumps over the lazy dog"), // exact dup of 1 mod case/ws
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
    (4L, "completely different content about query engines and shuffles"),
    (5L, "completely different content about query engines and shuffles"), // exact dup of 4
    (6L, "tiny doc"))
    .toDF("doc_id", "text")

  test("containmentPairs: quote fully contained scores 10^6 ppm exactly") {
    val refs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    // ref has 2 trigrams: "alpha beta gamma", "beta gamma delta"
    val corpus = Seq(
      (10L, "intro alpha beta gamma delta outro"), // full quote -> 2/2
      (11L, "alpha beta gamma something else entirely"), // 1/2
      (12L, "no shared trigrams here at all")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(corpus, refs, "doc_id", "text", n = 3)
      .orderBy("doc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      (10L, 1L, 2L, 2L, 1000000L),
      (11L, 1L, 1L, 2L, 500000L)))
    // minPpm floor prunes the weak pair
    val floored = Dedup.containmentPairs(corpus, refs, "doc_id", "text",
      n = 3, minPpm = 600000L)
    assert(floored.select("doc").as[Long].collect().toSeq === Seq(10L))
  }

  test("exact dedup keeps one representative (min id) per group") {
    val kept = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 3L, 4L, 6L))
  }

  test("exact dedup tolerates map-typed columns (excluded from the " +
    "row-hash tie-break)") {
    import org.apache.spark.sql.functions.{col, map, lit}
    // xxhash64 rejects MapType: the tie-break must skip it, not throw
    val withMap = docs.withColumn("meta", map(lit("k"), col("text")))
    val kept = Dedup.exact(withMap, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 3L, 4L, 6L))
  }

  test("exact dedup tolerates NESTED map columns — array<map> and " +
    "struct-with-map (xxhash64's type check recurses; so must ours)") {
    import org.apache.spark.sql.functions.{array, col, map, lit, struct}
    // xxhash64 rejects MapType anywhere in the type tree, not just at
    // the top level — a top-level-only exclusion throws AnalysisException
    // on these frames (the bug that motivated the recursive check).
    val nested = docs
      .withColumn("tags", array(map(lit("k"), col("text"))))
      .withColumn("info", struct(lit(1).as("v"),
        map(lit("m"), col("doc_id")).as("m")))
    val kept = Dedup.exact(nested, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 3L, 4L, 6L))
    // and with ALL-null ids, the row-hash tie-break still keeps exactly
    // one survivor per group despite every id comparing equal
    val nullIds = nested.withColumn("doc_id", lit(null).cast("long"))
    assert(Dedup.exact(nullIds, "doc_id", "text").count() === 4L)
  }

  test("ngram jaccard: exact dups at 1.0, near dups in between") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs((4L, 5L)) === 1.0)
    val near = pairs((1L, 3L))
    assert(near > 0.4 && near < 1.0, s"near-dup jaccard was $near")
    assert(!pairs.contains((1L, 4L)))
  }

  test("prefix-filtered jaccard join == plain self-join at threshold, " +
    "on the fixture and on real testdata") {
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
        .toSet
    for (t <- Seq(0.5, 0.8)) {
      val base = norm(Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3)
        .filter(col("jaccard") >= t))
      val pre = norm(Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text",
        n = 3, threshold = t))
      assert(pre === base, s"threshold $t diverged on fixture")
    }
    val real = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val base = norm(Dedup.ngramJaccardPairs(real, "doc_id", "text", n = 3)
      .filter(col("jaccard") >= 0.8))
    val pre = norm(Dedup.ngramJaccardPairsPrefix(real, "doc_id", "text",
      n = 3, threshold = 0.8))
    assert(pre === base)
    assert(pre.nonEmpty)
  }

  test("minhash LSH finds the same pairs as exact jaccard at threshold 0.5") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text",
      n = 3, numHashes = 64, bands = 32, threshold = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
    assert(lsh.contains((1L, 2L)) && lsh.contains((4L, 5L)))
  }

  test("raw LSH candidates cover the verified pairs; tiny docs ineligible") {
    // candidates (pre-verification) must be a superset of whatever the
    // verified path emits at ANY threshold — banding is the only
    // recall loss, and it happens before verification
    val cand = Dedup.minHashLshCandidates(docs, "doc_id", "text",
        n = 3, numHashes = 64, bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.minHashLshPairs(docs, "doc_id", "text",
        n = 3, numHashes = 64, bands = 32, threshold = 0.5)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(cand) && verified.nonEmpty)
    // a sub-n-token doc carries the sentinel signature and must not
    // co-bucket with everything (the quadratic-explosion guard)
    import spark.implicits._
    val withTiny = docs.unionByName(
      Seq((99L, "hi")).toDF("doc_id", "text"))
    val cand2 = Dedup.minHashLshCandidates(withTiny, "doc_id", "text",
        n = 3, numHashes = 64, bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cand2.exists(p => p._1 == 99L || p._2 == 99L))
  }

  test("simhash pairs: identical docs at hamming 0") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Number](2).longValue)).toMap
    assert(pairs((4L, 5L)) === 0L)
  }

  test("hot-shingle cap drops oversubscribed buckets, keeps cold ones") {
    // every doc shares a hot prefix (df=20 > cap); docs 2i/2i+1 also
    // share a pair-unique trigram (df=2 <= cap) that must survive
    val many = (0L until 20L).map(i =>
      (i, s"common shared shingle text pair${i / 2} tag${i / 2} mark${i / 2}"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(many, "doc_id", "text", n = 3).count()
    val capped = Dedup.ngramJaccardPairs(many, "doc_id", "text", n = 3,
      maxBucket = 5)
    assert(capped.count() < uncapped)
    // exactly the 10 sibling pairs survive via their cold shingles
    assert(capped.count() === 10)
  }

  test("cap audits report dropped buckets on a hot corpus and zero on " +
    "the bench corpus, while the capped join keeps cold pairs") {
    // 3000 docs all share two hot trigrams (df=3000 > cap=2000); sibling
    // docs 2i/2i+1 additionally share three pair-unique trigrams
    val hot = spark.range(3000).selectExpr("id AS doc_id",
      "concat('common shared shingle text pair', CAST(id / 2 AS BIGINT), " +
        "' tag', CAST(id / 2 AS BIGINT), ' mark', CAST(id / 2 AS BIGINT)) AS text")
    val a = Dedup.shingleCapAudit(hot, "doc_id", "text", n = 3,
      maxBucket = 2000).head()
    assert(a.getAs[Long]("hot_buckets") === 2L)
    assert(a.getAs[Long]("dropped_rows") === 6000L)
    assert(a.getAs[Long]("max_df") === 3000L)
    // the cap engages and the join still finds every sibling pair via
    // the cold shingles (verification sets are uncapped → jaccard 1.0)
    val pairs = Dedup.ngramJaccardPairsPrefix(hot, "doc_id", "text",
      n = 3, threshold = 0.5, maxBucket = 2000)
    assert(pairs.count() === 1500L)
    // band audit: 2500 identical docs co-bucket in all 32 bands
    val same = spark.range(2500).selectExpr("id AS doc_id",
      "'identical corpus document body for band audit' AS text")
    val b = Dedup.minHashBandCapAudit(same, "doc_id", "text",
      maxBucket = 2000).head()
    assert(b.getAs[Long]("hot_buckets") === 32L)
    assert(b.getAs[Long]("max_df") === 2500L)
    // docs too short to shingle share the sentinel signature but are
    // never banded by the pairing, so the audit reports nothing either
    val short = spark.range(2500).selectExpr("id AS doc_id", "'word' AS text")
    val sb = Dedup.minHashBandCapAudit(short, "doc_id", "text",
      maxBucket = 2000).head()
    assert(sb.getAs[Long]("hot_buckets") === 0L)
    assert(sb.getAs[Long]("dropped_rows") === 0L)
    assert(Dedup.minHashLshCandidates(short, "doc_id", "text",
      maxBucket = 2000).count() === 0L)
    // the bench corpus has no bucket anywhere near the production cap
    val real = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val ra = Dedup.shingleCapAudit(real, "doc_id", "text", n = 3,
      maxBucket = 2000).head()
    assert(ra.getAs[Long]("hot_buckets") === 0L)
    assert(ra.getAs[Long]("dropped_rows") === 0L)
    val rb = Dedup.minHashBandCapAudit(real, "doc_id", "text",
      maxBucket = 2000).head()
    assert(rb.getAs[Long]("hot_buckets") === 0L)
  }

  test("regression: a cap higher than any bucket is a no-op, not a wipe " +
    "(ambiguous self-anti-join silently dropped everything)") {
    val unc = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3)
      .collect().map(_.toSeq).toSet
    val cap = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      maxBucket = 1000000).collect().map(_.toSeq).toSet
    assert(cap === unc)
    assert(cap.nonEmpty)
    val lshUnc = Dedup.minHashLshPairs(docs, "doc_id", "text",
      3, 64, 32, 0.5).collect().map(_.toSeq).toSet
    val lshCap = Dedup.minHashLshPairs(docs, "doc_id", "text",
      3, 64, 32, 0.5, maxBucket = 1000000).collect().map(_.toSeq).toSet
    assert(lshCap === lshUnc)
    assert(lshCap.nonEmpty)
  }

  test("embedding near-dups: brute force and LSH agree on obvious dups") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.999f, 0.01f, 0.0f, 0.0f)), // ~same direction as 1
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val brute = Dedup.cosinePairsBrute(vecs, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute === Set((1L, 2L)))
    val lsh = Dedup.cosinePairsLsh(vecs, "vec_id", "embedding", 0.99,
      dim = 4, planes = 6, tables = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === Set((1L, 2L)))
  }

  test("staged-shingle prefix join == text-side prefix join") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSet
    val staged = key(Dedup.ngramJaccardPairsPrefixStaged(
      Dedup.shingleTable(docs, "doc_id", "text", 3), threshold = 0.5))
    val direct = key(Dedup.ngramJaccardPairsPrefix(
      docs, "doc_id", "text", 3, threshold = 0.5))
    assert(staged === direct)
    assert(staged.nonEmpty)
  }

  test("contamination pairs: overlap counts distinct shared shingles, " +
    "threshold filters") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    // doc 1 == the benchmark text (7 shared trigrams); doc 3 shares the
    // 6-trigram prefix; doc 4 shares nothing
    val out = Dedup.contaminationPairs(docs, bench, "doc_id", "text",
      n = 3, minOverlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out.contains((1L, 100L, 7L)), s"got $out")
    assert(out.contains((2L, 100L, 7L)), "case/ws variant matches too")
    assert(out.contains((3L, 100L, 6L)))
    assert(!out.exists(_._1 == 4L))
    // threshold drops the partial overlap
    val strict = Dedup.contaminationPairs(docs, bench, "doc_id", "text",
      n = 3, minOverlap = 7)
      .select("doc").as[Long].collect().toSet
    assert(strict === Set(1L, 2L))
  }
  test("keepLatest: one survivor per key, latest by order, tie-keyed") {
    val df = Seq(
      (1L, "2024-01-01", 10L), (1L, "2024-03-01", 11L),
      (1L, "2024-03-01", 12L), // same date: higher key wins
      (2L, "2024-02-01", 20L)
    ).toDF("cust", "d", "ok")
    val got = Dedup.keepLatest(df, Seq("cust"),
      Seq(col("d").desc, col("ok").desc))
      .select("cust", "ok").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 12L), (2L, 20L)))
    // plan: rank-1 over a window compiles to WindowGroupLimit
    val p = Dedup.keepLatest(df, Seq("cust"),
      Seq(col("d").desc, col("ok").desc))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("extended"))
    assert(p.contains("WindowGroupLimit"), p)
  }
  test("sharedRunPairs: longest shared token run, gaps split runs") {
    def words(r: Range, tag: String = "w") = r.map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, words(1 to 20)),                                // base
      (2L, words(1 to 18) + " x1 x2"),                     // shares 18-run
      (3L, words(1 to 10) + " y1 y2 " + words(13 to 20)),  // 10-run + 8-run
      (4L, words(100 to 130))                              // disjoint
    ).toDF("doc_id", "text")
    val got = Dedup.sharedRunPairs(docs, "doc_id", "text",
      n = 8, minRun = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // (1,2): run of 18; (1,3): the 10-token prefix run survives, the
    // 8-token tail run is under minRun; (1,4)/(2,4)/(3,4): nothing
    assert(got === Map((1L, 2L) -> 18L, (1L, 3L) -> 10L, (2L, 3L) -> 10L))
    // raising minRun above the longest run empties the result
    assert(Dedup.sharedRunPairs(docs, "doc_id", "text",
      n = 8, minRun = 19).count() === 0)
    // a hot boilerplate shingle shared by "everyone" is capped away
    val boiler = (1L to 9L).map(i => (i, words(1 to 12, "b")))
      .toDF("doc_id", "text")
    val capped = Dedup.sharedRunPairs(boiler, "doc_id", "text",
      n = 8, minRun = 8, maxBucket = 8)
    assert(capped.count() === 0) // every shingle sits in 9 > 8 positions
  }

  test("dupSpans: maximal duplicated spans, adjacent islands merge, " +
    "within-doc repeats count") {
    def words(r: Range, tag: String = "w") = r.map(i => s"$tag$i").mkString(" ")
    val shared = words(1 to 10) // a 10-token sentence both docs carry
    val corpus = Seq(
      (1L, shared + " " + words(1 to 8, "a")),            // span at 1..10
      (2L, words(1 to 5, "b") + " " + shared),            // span at 6..15
      (3L, words(1 to 30, "c")),                          // unique — no spans
      (4L, words(1 to 9, "r") + " " + words(1 to 9, "r")) // self-repeat
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(corpus, "doc_id", "text", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1: 4-grams at pos 1..7 all duplicated -> one span 1..10
    // doc 2: pos 6..12 -> span 6..15; doc 3 absent
    assert(spans.contains((1L, 1L, 10L)), spans)
    assert(spans.contains((2L, 6L, 15L)), spans)
    assert(!spans.exists(_._1 == 3L), spans)
    // doc 4 repeats its own 9 tokens: every 4-gram inside each half that
    // also occurs in the other half is duplicated; islands merge into
    // one covering span (the two copies overlap at the seam)
    assert(spans.exists(s => s._1 == 4L && s._2 == 1L && s._3 == 18L), spans)
  }

  test("stripSpans removes covered tokens, leaves span-free docs alone") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y z")).toDF("doc_id", "text")
    val spans = Seq((1L, 3L, 5L), (1L, 8L, 8L))
      .toDF("doc", "span_start", "span_end")
    val out = Dedup.stripSpans(corpus, spans, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "a b f g")
    assert(out(2L) === "x y z")
  }

  test("bipartite LSH join == cross-boundary subset of the full-corpus " +
      "pair set, and never pairs within a side") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val existing = docs.filter($"doc_id" % 5 =!= 0)
    val incoming = docs.filter($"doc_id" % 5 === 0)
    val across = Dedup.minHashLshPairsAcross(existing, incoming,
        "doc_id", "text", n = 3, numHashes = 64, bands = 32,
        threshold = 0.5)
      .select($"doc_ex", $"doc_in").as[(Long, Long)].collect().toSet
    // every pair crosses the boundary by construction
    across.foreach { case (ex, in) =>
      assert(ex % 5 !== 0); assert(in % 5 === 0)
    }
    val full = Dedup.minHashLshPairs(docs, "doc_id", "text",
        n = 3, numHashes = 64, bands = 32, threshold = 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val crossFromFull = full.collect {
      case (a, b) if a % 5 != 0 && b % 5 == 0 => (a, b)
      case (a, b) if b % 5 != 0 && a % 5 == 0 => (b, a)
    }
    assert(across === crossFromFull)
  }

  test("minHashLshPairsAcross counts its cap over both sides: a bucket " +
    "of 3 existing + 3 incoming docs is dropped at 5, kept at 6") {
    val hot = "one planted document text that both corpora carry"
    val cold = "a separate near duplicate outside the planted bucket"
    val existing = Seq((1L, hot), (2L, hot), (3L, hot), (10L, cold))
      .toDF("doc_id", "text")
    val incoming = Seq((101L, hot), (102L, hot), (103L, hot), (110L, cold))
      .toDF("doc_id", "text")
    def pairs(cap: Int) = Dedup.minHashLshPairsAcross(existing, incoming,
        "doc_id", "text", maxBucket = cap)
      .select($"doc_ex", $"doc_in").as[(Long, Long)].collect().toSet
    val planted = for (e <- Set(1L, 2L, 3L); i <- Set(101L, 102L, 103L))
      yield (e, i)
    // each side alone holds 3 <= 5 docs per planted bucket; together 6
    assert(pairs(5) === Set((10L, 110L)))
    assert(pairs(6) === planted + ((10L, 110L)))
    assert(pairs(0) === pairs(6))
  }

  test("capped winnow and contamination plans count the cap in one " +
    "Window over the bucket key and plan no left anti join") {
    // a Range-based corpus: its text literal tags the plans to inspect
    // (a local relation would be folded away by the optimizer)
    val corpus = spark.range(1, 41).select(col("id").as("doc_id"),
      concat(lit("planshape boilerplate opening words then doc "),
        (col("id") % 7).cast("string"), lit(" body "),
        (col("id") % 5).cast("string")).as("text"))
    val bench = Seq((900L, "planshape boilerplate opening words then doc 3"))
      .toDF("doc_id", "text")
    def check(keys: Seq[String])(run: => Long): Unit = {
      val plans = plansOf("planshape boilerplate")(assert(run > 0L))
      assert(plans.nonEmpty)
      plans.foreach { p =>
        assert(p.collect { case j: Join if j.joinType == LeftAnti => j }
          .isEmpty, s"left anti join in\n$p")
        val windows = p.collect { case w: Window => w }
        assert(windows.map(_.canonicalized).distinct.size === 1,
          s"expected one distinct Window in\n$p")
        windows.foreach(w => assert(
          w.partitionSpec.map(_.references.head.name) === keys))
      }
    }
    check(Seq("band", "bh"))(Dedup.winnowOverlapPairs(corpus,
      "doc_id", "text", k = 8, w = 6, threshold = 0.5,
      maxBucket = 500, numHashes = 64, bands = 16).count())
    check(Seq("sh"))(Dedup.contaminationPairs(corpus, bench,
      "doc_id", "text", n = 3, minOverlap = 3,
      maxBucket = 2000).count())
  }

  test("autoMaxBucket: small-corpus floor, ppm-proportional past it") {
    // floor regime: any corpus below floor/ppm·1e6 rows keeps the floor
    assert(Dedup.autoMaxBucket(0L) === 2000)
    assert(Dedup.autoMaxBucket(1000000L) === 2000) // 400 < floor
    // proportional regime: cap = n·ppm/1e6 once past the floor
    assert(Dedup.autoMaxBucket(10000000L) === 4000)
    assert(Dedup.autoMaxBucket(1000000000L) === 400000)
    // knobs: ppm and floor both honored
    assert(Dedup.autoMaxBucket(1000000000L, ppm = 10L) === 10000)
    assert(Dedup.autoMaxBucket(10L, floor = 7) === 7)
  }

  test("exact dedup keeps one survivor per NULL-text group (null-safe " +
    "join — a plain equi-semi-join would DELETE those rows)") {
    val docs = Seq((1L, null.asInstanceOf[String]),
      (2L, null.asInstanceOf[String]), (3L, "a"), (4L, "a"))
      .toDF("doc_id", "text")
    val kept = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 3L))
  }

  test("exact dedup keeps exactly one row per ALL-null-id group " +
    "(row-hash tie-break; min(id)+null-safe-join kept the whole group)") {
    val nid = null.asInstanceOf[java.lang.Long]
    val docs = Seq((nid, "same", "x"), (nid, "same", "y"),
      (java.lang.Long.valueOf(7L), "same", "z"),
      (nid, "other", "p"), (nid, "other", "q"))
      .toDF("doc_id", "text", "tag")
    val kept = Dedup.exact(docs, "doc_id", "text")
    // group "same": the non-null id 7 wins; group "other" (ids all
    // null): exactly ONE survivor, picked by the whole-row hash
    assert(kept.count() === 2L)
    assert(kept.filter($"text" === "same").select("doc_id")
      .as[java.lang.Long].collect().toSeq === Seq(java.lang.Long.valueOf(7L)))
    assert(kept.filter($"text" === "other").count() === 1L)
    // value-deterministic: a rerun keeps the same row
    val again = Dedup.exact(docs, "doc_id", "text")
      .filter($"text" === "other").select("tag").as[String].collect()
    assert(again.toSeq ===
      kept.filter($"text" === "other").select("tag").as[String].collect().toSeq)
  }

  test("minhash LSH excludes shingle-less docs from candidacy " +
    "(sentinel signatures would co-bucket in every band)") {
    // two tiny docs (< 3 tokens) share the all-MaxValue sentinel —
    // they must not pair with each other or anything else
    val docs = Seq((1L, "x"), (2L, "y"),
      (3L, "alpha beta gamma delta"), (4L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((3L, 4L)))
  }

  test("simhash normalizes case like every other dedup path") {
    val docs = Seq((1L, "The Quick Brown Fox Jumps Over It"),
      (2L, "the quick brown fox jumps over it"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs === Seq((1L, 2L, 0L)))
    // and the recall guarantee bound is enforced
    intercept[IllegalArgumentException] {
      Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 4)
    }
  }
}
