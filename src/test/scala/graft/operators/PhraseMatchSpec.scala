package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PhraseMatchSpec extends SparkTestBase {
  import spark.implicits._

  /** naive per-position reference: overlapping substring count */
  private def naiveCount(t: String, p: String): Long =
    (0 to t.length - p.length).count(i => t.regionMatches(i, p, 0, p.length)).toLong

  test("automaton counts overlapping occurrences") {
    val ac = PhraseMatch.buildAutomaton(Seq("ana", "na", "banana"))
    val got = ac.countsIn("banana").map { case (pi, c) => ac.patterns(pi) -> c }.toMap
    assert(got == Map("ana" -> 2L, "na" -> 2L, "banana" -> 1L), got.toString)
  }

  test("dictionary-suffix outputs: a 'scan' ending also ends 'can' and 'an'") {
    val ac = PhraseMatch.buildAutomaton(Seq("scan", "can", "an", "a"))
    val got = ac.countsIn("scan table scan").map { case (pi, c) => ac.patterns(pi) -> c }.toMap
    // 'a' also occurs inside 'table'; every count is the naive truth
    val want = Map("scan" -> 2L, "can" -> 2L, "an" -> 2L, "a" -> 3L)
    assert(got == want, got.toString)
  }

  test("automaton == naive position scan on a pseudo-random corpus") {
    val alphabet = "abcr "
    val texts = (0 until 40).map { d =>
      (0 until 60).map(i => alphabet(((d * 61 + i) * 2654435761L % 5).toInt.abs)).mkString
    }
    val pats = Seq("ab", "ba", "abc", "cab", "r a", "aa")
    val ac = PhraseMatch.buildAutomaton(pats)
    for (t <- texts) {
      val got = ac.countsIn(t).map { case (pi, c) => ac.patterns(pi) -> c }.toMap
      val want = pats.map(p => p -> naiveCount(t, p)).filter(_._2 > 0L).toMap
      assert(got == want, s"text=$t got=$got want=$want")
    }
  }

  test("matchCounts is case-insensitive, drops null text, invariant to partitioning") {
    val docs = Seq(
      (1L, "ScAn the TABLE"),
      (2L, null.asInstanceOf[String]),
      (3L, "no hits here"),
      (4L, "scan scan")).toDF("doc_id", "text")
    val want = Set((1L, "scan", 1L), (1L, "an", 1L), (4L, "scan", 2L), (4L, "an", 2L))
    for (parts <- Seq(1, 3)) {
      val got = PhraseMatch.matchCounts(docs.repartition(parts), "text", "doc_id",
          Seq("scan", "an", "zebra"))
        .as[(Long, String, Long)].collect().toSet
      assert(got == want, s"parts=$parts got=$got")
    }
  }

  test("filterClean keeps unmatched docs, including null-text docs") {
    val docs = Seq(
      (1L, "the banned phrase here"),
      (2L, null.asInstanceOf[String]),
      (3L, "clean")).toDF("doc_id", "text")
    val got = PhraseMatch.filterClean(docs, "text", "doc_id", Seq("banned phrase"))
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(2L, 3L), got.toString)
  }

  test("rejects empty, null, and (case-insensitively) duplicate patterns") {
    intercept[IllegalArgumentException] { PhraseMatch.buildAutomaton(Nil) }
    intercept[IllegalArgumentException] { PhraseMatch.buildAutomaton(Seq("a", "")) }
    intercept[IllegalArgumentException] { PhraseMatch.buildAutomaton(Seq("a", null)) }
    intercept[IllegalArgumentException] { PhraseMatch.buildAutomaton(Seq("Ab", "aB")) }
  }
}
