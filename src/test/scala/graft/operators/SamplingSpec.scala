package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkTestBase {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("sample is deterministic and invariant to repartitioning") {
    val a = Sampling.deterministicSample(docs, "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.deterministicSample(docs.repartition(13), "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
    val frac = a.size.toDouble / docs.count()
    assert(frac > 0.2 && frac < 0.4, s"got $frac")
  }

  test("cutoff rounds instead of truncating (rate 0.57 keeps bucket 5699)") {
    // 0.57 * 10000 = 5699.999... in doubles; truncation would exclude
    // bucket 5699 that exact-arithmetic engines (the DuckDB oracle) keep
    val got = Sampling.deterministicSample(docs, "doc_id", 0.57)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = docs.where(Sampling.bucket(col("doc_id")) < 5700)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === want)
  }

  test("split is disjoint and exhaustive") {
    val (train, holdout) = Sampling.split(docs, "doc_id", 0.2)
    val t = train.select("doc_id").collect().map(_.getLong(0)).toSet
    val h = holdout.select("doc_id").collect().map(_.getLong(0)).toSet
    assert((t & h).isEmpty)
    assert(t.size + h.size === docs.count())
  }

  test("assignSplits: exhaustive, disjoint, cumulative cutoffs tile exactly") {
    val split = Sampling.assignSplits(docs, "doc_id",
      Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1))
    // every row gets exactly one split label; no rows appear or vanish
    assert(split.count() === docs.count())
    val byName = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.keySet === Set("train", "validation", "test"))
    val n = docs.count().toDouble
    assert(byName("train") / n > 0.7 && byName("train") / n < 0.9)
    // deterministic: same assignment on any partitioning
    val a = split.select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = Sampling.assignSplits(docs.repartition(13), "doc_id",
      Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a === b)
    // thirds don't divide 10000: cumulative cutoffs (3333, 6667, 10000)
    // must still cover every bucket — no orphaned rows
    val thirds = Sampling.assignSplits(docs, "doc_id",
      Seq("a" -> (1.0 / 3), "b" -> (1.0 / 3), "c" -> (1.0 / 3)))
    assert(thirds.where(col("split").isNull).count() === 0)
    assert(thirds.count() === docs.count())
    // the split column is a projection: no exchange in the plan
    assert(!split.queryExecution.executedPlan.toString.contains("Exchange"),
      "assignSplits must not shuffle")
  }

  test("stratified sample applies per-stratum rates and stays a subset of the flat sample") {
    val out = Sampling.stratifiedSample(docs, "doc_id", "lang",
      rates = Map("en" -> 0.10), defaultRate = 0.30)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enFrac = byLang.getOrElse("en", 0L).toDouble / totals("en")
    assert(enFrac < 0.25, s"en downsampled to ~10%, got $enFrac")
    // same hash ⇒ the 10% en stratum is exactly the en rows of the flat 10% sample
    val flat10 = Sampling.deterministicSample(docs, "doc_id", 0.10)
      .where(col("lang") === "en").select("doc_id").collect().map(_.getLong(0)).toSet
    val strat = out.where(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strat === flat10)
  }

  test("quotaPerGroup keeps exactly the top-quota rows per group") {
    val out = Sampling.quotaPerGroup(docs, "source", 10,
      preference = Seq(col("n_chars").desc, col("doc_id")))
    val counts = out.groupBy("source").count().collect().map(_.getLong(1))
    assert(counts.nonEmpty && counts.forall(_ === 10L)) // every source has 25 docs
    // the kept set per source is the lexicographic top 10
    val keptSrc0 = out.where(col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val wantSrc0 = docs.where(col("source") === "src0")
      .orderBy(col("n_chars").desc, col("doc_id")).limit(10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptSrc0 === wantSrc0)
  }

  test("quotaPerGroup plans a partial WindowGroupLimit (map-side pre-prune)") {
    val plan = Sampling.quotaPerGroup(docs, "source", 10,
        preference = Seq(col("n_chars").desc, col("doc_id")))
      .queryExecution.executedPlan.toString
    // the property the skew story rests on: each task keeps <= quota rows
    // per group BEFORE the exchange
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected partial+final WindowGroupLimit pair, plan:\n$plan")
  }

  test("weightedSample key matches the A-ES formula computed independently") {
    import spark.implicits._
    val d = Seq((1L, 100L), (2L, 200L), (3L, 50L)).toDF("id", "w")
    val out = Sampling.weightedSample(d, "id", "w", n = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("__es_key")).toMap
    def expected(id: Long, w: Double): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(md.substring(0, 12), 16).toDouble
      math.log((h + 0.5) / 281474976710656.0) / w
    }
    // Spark's Log expression (StrictMath.log) and the JVM intrinsic
    // Math.log may differ in the last ulp — selection and the 6-decimal
    // presentation rounding are insensitive to it, so the pin allows 2 ulps
    for ((id, w) <- Seq((1L, 100.0), (2L, 200.0), (3L, 50.0))) {
      val e = expected(id, w)
      assert(math.abs(out(id) - e) <= 2 * math.ulp(e).abs, s"id=$id: ${out(id)} vs $e")
    }
  }

  test("weightedSample: top-n selection, non-positive weights excluded, partition-invariant") {
    import spark.implicits._
    val d = ((1L to 100L).map(i => (i, i)) :+ ((101L, 0L)) :+ ((102L, -5L)))
      .toDF("doc_id", "w")
    val out = Sampling.weightedSample(d, "doc_id", "w", n = 10)
    val ids = out.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids.size === 10)
    assert(!ids.contains(101L) && !ids.contains(102L), "w<=0 must never be drawn")
    val ids2 = Sampling.weightedSample(d.repartition(13), "doc_id", "w", n = 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids === ids2)
    // heavier rows win more: the kept set's mean weight must exceed the
    // population mean (weights 1..100, uniform draw would average ~50)
    val meanKept = out.agg(avg(col("w"))).head.getDouble(0)
    assert(meanKept > 50.0, s"weighted draw should favor heavy rows, mean=$meanKept")
  }

  test("weightedSamplePerGroup draws the group-local weightedSample in every group") {
    val out = Sampling.weightedSamplePerGroup(docs, "doc_id", "n_chars", "source", nPerGroup = 5)
    val bySource = out.collect()
      .groupBy(_.getAs[String]("source"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    assert(bySource.values.forall(_.size === 5))
    // each group's draw is exactly weightedSample run on that group alone
    // (keys are a pure row function, so restriction commutes with selection)
    for (src <- bySource.keys.take(3)) {
      val solo = Sampling.weightedSample(
          docs.where(col("source") === src), "doc_id", "n_chars", n = 5)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(bySource(src) === solo, s"group $src")
    }
    // partitioning invariance
    val again = Sampling.weightedSamplePerGroup(
        docs.repartition(13), "doc_id", "n_chars", "source", nPerGroup = 5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(again === bySource.values.flatten.toSet)
  }

  test("weightedSamplePerGroup plans the partial WindowGroupLimit pre-prune") {
    val plan = Sampling.weightedSamplePerGroup(docs, "doc_id", "n_chars", "source", 5)
      .queryExecution.executedPlan.toString
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected partial+final WindowGroupLimit pair, plan:\n$plan")
  }
}
