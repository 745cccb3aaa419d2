package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** Bench's last-stdout-line contract: a full registry's medians fit under
  * the char cap, headline queries are kept before any other, the elided
  * count matches what was dropped, and the key set does not drift.
  */
class BenchSpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keySet.toSeq.sorted
  // medians spread over 0.001 s .. ~20 s so the slowest-first fill has an
  // order to follow; headline medians are the SMALLEST, so a fill that
  // ranked by median alone would drop them first
  private val medians = names.zipWithIndex.map { case (n, i) =>
    n -> (if (BenchHeadline.names.contains(n)) 0.001 * (i + 1) else 1.0 + 0.1 * i)
  }

  test("a full registry's stdout line keeps its contract") {
    assert(medians.size === 209)
    val line = Bench.stdoutLine(medians, total = 1234.567, runs = 3, degraded = 2,
      headlineDegraded = 0, budgetSec = 600.0, unaudited = 0,
      sfDir = "/data/sf0.1", detail = "BENCH_local.json")
    assert(line.length <= Bench.LineCap)

    val json = parse(line)
    val JObject(fields) = json
    assert(fields.map(_._1).toSet === Set("metric", "value", "unit", "queries",
      "queries_elided", "n_queries", "runs", "degraded", "headline_degraded",
      "budget_sec", "window_unaudited", "sf", "detail"))

    val JObject(kept) = json \ "queries"
    val keptNames = kept.map(_._1).toSet
    assert(BenchHeadline.names.subsetOf(keptNames), "every headline query is kept")
    val others = medians.filterNot(kv => BenchHeadline.names.contains(kv._1))
    val (keptOthers, droppedOthers) = others.partition(kv => keptNames.contains(kv._1))
    assert(keptOthers.nonEmpty && droppedOthers.nonEmpty, "the cap must bind on 209 entries")
    assert(keptOthers.map(_._2).min > droppedOthers.map(_._2).max,
      "non-headline entries are kept slowest first")

    val JInt(elided) = json \ "queries_elided"
    assert(elided.toInt === medians.size - kept.size)
    val JInt(n) = json \ "n_queries"
    assert(n.toInt === medians.size)
  }
}
