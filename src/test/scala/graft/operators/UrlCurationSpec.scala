package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** UrlCuration semantics pins: normalization on handwritten nasty URLs,
  * registered-domain extraction across the PSL subset, and the quota and
  * drift compositions.
  */
class UrlCurationSpec extends SparkTestBase {
  import spark.implicits._

  private def norm(urls: String*): Seq[String] = {
    val df = urls.toSeq.toDF("url")
      .select(UrlCuration.normalizeUrl(col("url")).as("n"))
    df.collect().map(_.getString(0)).toSeq
  }

  test("normalizeUrl: case, www, default ports, fragments, slashes, empty queries") {
    assert(norm("HTTP://WWW.Example.COM:80/Path/Sub/?q=1#frag")
      === Seq("http://example.com/Path/Sub?q=1"))
    assert(norm("https://example.com:443/") === Seq("https://example.com"))
    assert(norm("https://example.com:8443/a") === Seq("https://example.com:8443/a"))
    // http on 443 and https on 80 are NOT default — kept
    assert(norm("http://example.com:443/a") === Seq("http://example.com:443/a"))
    assert(norm("https://example.com:80/a") === Seq("https://example.com:80/a"))
    // bare '?' and fragment-only tails drop; ONE trailing slash strips
    assert(norm("http://a.org/x?") === Seq("http://a.org/x"))
    assert(norm("http://a.org/x#sec") === Seq("http://a.org/x"))
    // path case is preserved (path is case-sensitive per RFC); query verbatim
    assert(norm("http://A.ORG/CaseKept?B=C") === Seq("http://a.org/CaseKept?B=C"))
    // www is stripped once, a cdn subdomain is not
    assert(norm("http://www.cdn.a.org/x") === Seq("http://cdn.a.org/x"))
  }

  test("normalizeUrl: null, blank, and host-less input normalize to null") {
    val df = Seq[(java.lang.Long, String)]((1L, null), (2L, ""), (3L, "not a url"),
        (4L, "mailto:a@b.c"))
      .toDF("id", "url")
      .select(UrlCuration.normalizeUrl(col("url")).as("n"))
    assert(df.collect().forall(_.isNullAt(0)))
  }

  test("registeredDomain: default 2-label rule and the multi-label PSL subset") {
    val hosts = Seq("deep.sub.example.com", "example.com", "sub.example.co.uk",
      "example.co.uk", "a.b.com.au", "localhost", "cdn.x.org")
    val got = hosts.toDF("h")
      .select(UrlCuration.registeredDomain(col("h")).as("d"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("example.com", "example.com", "example.co.uk",
      "example.co.uk", "b.com.au", "localhost", "x.org"))
  }

  test("domainQuota composes quotaPerGroup on the extracted domain") {
    val rows = (1 to 40).map(i =>
      (i.toLong, s"http://h${i % 2}.example.com/p$i", 1000L - i))
    val df = rows.toDF("doc_id", "url", "n_chars")
    val kept = UrlCuration.domainQuota(df, "url", quota = 7,
      preference = Seq(col("n_chars").desc, col("doc_id")))
    // one registered domain (example.com) despite two hosts → exactly 7 kept,
    // and they are the 7 largest
    assert(kept.count() === 7)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet
      === (1 to 7).map(_.toLong).toSet)
  }

  test("domainMixDrift: identical snapshots report zero drift, disjoint saturate JS at ln 2") {
    val a = Seq((1L, "http://a.com/x"), (2L, "http://b.org/y")).toDF("doc_id", "url")
    val b = Seq((3L, "http://c.net/z"), (4L, "http://d.io/w")).toDF("doc_id", "url")
    val same = UrlCuration.domainMixDrift(a, a, "url").collect().head
    assert(same.getAs[Double]("chi2") === 0.0)
    assert(same.getAs[Double]("js_divergence") === 0.0)
    val disj = UrlCuration.domainMixDrift(a, b, "url").collect().head
    assert(math.abs(disj.getAs[Double]("js_divergence") - math.log(2)) < 1e-6)
  }
}
