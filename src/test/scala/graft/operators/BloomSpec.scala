package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class BloomSpec extends SparkTestBase {
  import spark.implicits._

  private val built = (1 to 200).map(i => s"key_$i")
  private val absent = (1 to 2000).map(i => s"other_$i")

  test("no false negatives: every built key probes as a member") {
    val df = built.toDF("k")
    val bits = Bloom.build(df, "k", k = 3, mBits = 8192)
    val probed = Bloom.probe(bits, df, "k", k = 3, mBits = 8192)
    assert(probed.where(!col("member")).count() === 0)
    assert(probed.count() === 200)
  }

  test("false-positive rate on absent keys stays near the analytic bound") {
    val bits = Bloom.build(built.toDF("k"), "k", k = 3, mBits = 8192)
    val fp = Bloom.probe(bits, absent.toDF("k"), "k", k = 3, mBits = 8192)
      .where(col("member")).count()
    // (1 - e^(-kn/m))^k with k=3, n=200, m=8192 ≈ 3.6e-4 → expect ~0.7
    // hits over 2000 probes; 20 (1%) leaves a huge margin over chance
    assert(fp <= 20, s"false-positive count $fp far above the analytic bound")
  }

  test("partial hits are not members: n_hit < k rejects") {
    val bits = Bloom.build(built.toDF("k"), "k", k = 3, mBits = 8192)
    val probed = Bloom.probe(bits, (built ++ absent).toDF("k"), "k", k = 3, mBits = 8192)
    val bad = probed.where(col("member") && col("n_hit") < 3).count()
    assert(bad === 0)
    // absent keys still usually graze SOME set bit at this load factor:
    // the verdict must come from ALL k positions, not any-hit
    val grazed = probed.where(!col("member") && col("n_hit") > 0).count()
    assert(grazed > 0, "expected partial grazes at n=200/m=8192 load")
  }

  test("build size is bounded by mBits") {
    val m = 512
    val bits = Bloom.build((1 to 10000).map(_.toString).toDF("k"), "k", k = 4, mBits = m)
    val n = bits.count()
    assert(n <= m, s"bit table $n exceeded mBits=$m")
    // saturated filter at this load: nearly all bits set
    assert(n > m * 0.9)
  }

  test("null keys are dropped on both sides, never planted or probed") {
    val withNull = (built :+ null.asInstanceOf[String]).toDF("k")
    val bits = Bloom.build(withNull, "k", k = 3, mBits = 4096)
    assert(bits.where(col("pos").isNull).count() === 0)
    assert(bits.count() ===
      Bloom.build(built.toDF("k"), "k", k = 3, mBits = 4096).count())
    assert(Bloom.probe(bits, withNull, "k", k = 3, mBits = 4096).count() === 200)
  }

  test("deterministic across repartitioning") {
    val df = built.toDF("k")
    val a = Bloom.build(df, "k", k = 3, mBits = 4096).collect().map(_.getLong(0)).sorted.toSeq
    val b = Bloom.build(df.repartition(7), "k", k = 3, mBits = 4096)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a === b)
  }
}
