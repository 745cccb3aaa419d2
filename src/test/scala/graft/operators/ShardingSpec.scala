package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ShardingSpec extends SparkTestBase {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("shard addresses are a bijection: every row exactly one (shard, pos), positions dense per shard") {
    val out = Sharding.assignShards(docs.select("doc_id"), "doc_id", 8).cache()
    assert(out.count() === docs.count())
    val perShard = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("maxp"), min("pos").as("minp"),
        countDistinct("pos").as("np"))
      .collect()
    assert(perShard.length === 8)
    perShard.foreach { r =>
      assert(r.getAs[Long]("minp") === 1L)
      assert(r.getAs[Long]("maxp") === r.getAs[Long]("n"))
      assert(r.getAs[Long]("np") === r.getAs[Long]("n"))
    }
    // balance: the md5 shuffle key spreads ids evenly over the shards
    val counts = perShard.map(_.getAs[Long]("n"))
    val mean = counts.sum.toDouble / counts.length
    counts.foreach(c => assert(math.abs(c - mean) < mean,
      s"shard with $c docs vs mean $mean"))
    out.unpersist()
  }

  test("assignment is invariant to input partitioning (reproducible export)") {
    val a = Sharding.assignShards(docs.select("doc_id"), "doc_id", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Sharding.assignShards(docs.select("doc_id").repartition(13), "doc_id", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b)
  }

  test("the shuffle actually shuffles: within-shard order decorrelates from source order") {
    // Spearman-ish check: among consecutive doc_id pairs landing in the
    // same shard, their positions should be ~uncorrelated with id order —
    // an identity-ish mapping would keep almost all pairs ordered.
    val out = Sharding.assignShards(docs.select("doc_id"), "doc_id", 1)
      .orderBy("doc_id").collect().map(_.getLong(2))
    val ordered = out.sliding(2).count(p => p(1) > p(0))
    val frac = ordered.toDouble / (out.length - 1)
    assert(frac > 0.35 && frac < 0.65, s"adjacent-pair ordered fraction $frac")
  }

  test("packSequences: contiguous offsets per shard, correct seq spans, zero-token exclusion") {
    import spark.implicits._
    val d = (1L to 200L).map(i => (i, (i % 7) * 10)).toDF("doc_id", "n_tokens")
    val packed = Sharding.packSequences(d, "doc_id", "n_tokens", numShards = 4, seqLen = 64)
      .collect()
    // zero-token docs (i % 7 == 0) are excluded
    assert(packed.length === 200 - 200 / 7)
    packed.groupBy(_.getAs[Long]("shard")).values.foreach { rows =>
      val byPos = rows.sortBy(_.getAs[Long]("pos"))
      // offsets are the exact running sum: each doc starts where the
      // previous one ended — the concatenated-stream invariant
      var expected = 0L
      byPos.foreach { r =>
        assert(r.getAs[Long]("start_offset") === expected, s"gap at pos ${r.getAs[Long]("pos")}")
        expected += r.getAs[Long]("n_tokens")
      }
      rows.foreach { r =>
        val (so, nt) = (r.getAs[Long]("start_offset"), r.getAs[Long]("n_tokens"))
        assert(r.getAs[Long]("start_seq") === so / 64)
        assert(r.getAs[Long]("end_seq") === (so + nt - 1) / 64)
        assert(r.getAs[Long]("n_seqs") === r.getAs[Long]("end_seq") - r.getAs[Long]("start_seq") + 1)
      }
    }
    // bit-reproducible on any partitioning (re-export invariant)
    val again = Sharding.packSequences(d.repartition(13), "doc_id", "n_tokens", 4, 64)
    assert(Sharding.packSequences(d, "doc_id", "n_tokens", 4, 64)
      .exceptAll(again).isEmpty && again.exceptAll(
        Sharding.packSequences(d, "doc_id", "n_tokens", 4, 64)).isEmpty)
  }

  test("packSequences plans ONE exchange: the running sum reuses the shard partitioning") {
    import spark.implicits._
    val d = (1L to 100L).map(i => (i, 10L)).toDF("doc_id", "n_tokens")
    val plan = Sharding.packSequences(d, "doc_id", "n_tokens", 4, 64)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size === 1,
      s"pos window and cumsum window must share one shard exchange:\n$plan")
  }

  test("packedTokenSequences: full sequences only, token conservation, reproducible") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val packed = Sharding.packedTokenSequences(docs, "text", "doc_id",
      vocabSize = 64, numShards = 4, seqLen = 50)
    val rows = packed.collect()
    assert(rows.nonEmpty)
    // every sequence is exactly seqLen ids, all within [0, vocabSize]
    rows.foreach { r =>
      val ids = r.getAs[String]("token_ids").split(",").map(_.toLong)
      assert(ids.length === 50)
      assert(ids.forall(id => id >= 0L && id <= 64L))
    }
    // per shard: exactly floor(shard_tokens / seqLen) full sequences,
    // indexed densely from 0 — the drop-last-partial contract
    val shardTokens = Sharding.assignShards(
        docs.select(col("doc_id"),
          graft.operators.TextAnalysis.tokenCount(col("text")).as("n")), "doc_id", 4)
      .where(col("n") > 0)
      .groupBy("shard").agg(sum("n").as("tot"))
      .collect().map(r => r.getAs[Long]("shard") -> r.getAs[Long]("tot")).toMap
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (shard, rs) =>
      val seqIdxs = rs.map(_.getAs[Long]("seq_idx")).sorted.toSeq
      assert(seqIdxs === (0L until shardTokens(shard) / 50),
        s"shard $shard: expected ${shardTokens(shard) / 50} dense sequences")
    }
    // bit-reproducible on any input partitioning (the re-export invariant)
    val again = Sharding.packedTokenSequences(docs.repartition(13), "text", "doc_id",
      vocabSize = 64, numShards = 4, seqLen = 50)
    assert(packed.exceptAll(again).isEmpty && again.exceptAll(packed).isEmpty)
  }

  test("the pipeline composes: curation keeps -> frozen vocab -> packed sequences") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the q83 curation verdict picks the kept documents...
    val kept = docs.join(
      graft.queries.DocQueries.q83Curation(spark, dir)
        .where(col("keep") === 1).select("doc_id"),
      Seq("doc_id"), "left_semi")
    // ...the vocabulary stays frozen on the FULL corpus snapshot...
    val vocab = graft.operators.TextAnalysis.buildVocab(docs, "text", vocabSize = 64)
    // ...and the export cuts the kept docs into training sequences
    val packed = Sharding.packedTokenSequencesWithVocab(kept, "text", "doc_id",
      vocab, numShards = 4, seqLen = 50)
    val rows = packed.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("token_ids").split(",").length === 50))
    // the whole chain is deterministic end to end
    val again = Sharding.packedTokenSequencesWithVocab(kept.repartition(7), "text",
      "doc_id", vocab, numShards = 4, seqLen = 50)
    assert(packed.exceptAll(again).isEmpty && again.exceptAll(packed).isEmpty)
  }
}
