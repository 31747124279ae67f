package graft.pipeline

import graft.SparkSpec
import graft.model.Dict

/** The flagship against a brute-force reference that shares no code with it:
  * urls and timestamps come straight from the documents table, mentions from
  * a naive word-bounded `indexOf` over the page text (no html, no
  * extractor, no Aho-Corasick), and the link/emit/dedup rules are restated
  * here in their plainest form.
  */
class ReferenceSpec extends SparkSpec {

  /** Word-bounded occurrences of `s` in `text`. */
  private def occurrences(text: String, s: String): Seq[Int] = {
    def bounded(i: Int) =
      (i == 0 || !text.charAt(i - 1).isLetterOrDigit) &&
        (i + s.length == text.length || !text.charAt(i + s.length).isLetterOrDigit)
    Iterator.iterate(text.indexOf(s))(i => text.indexOf(s, i + 1))
      .takeWhile(_ >= 0).filter(bounded).toSeq
  }

  /** Top-1 QID per surface: prior desc, then qid asc. */
  private val top1: Map[String, String] =
    Dict.aliases.groupBy(_.surface).map { case (s, as) => s -> as.sortBy(a => (-a.prior, a.qid)).head.qid }

  /** Distinct triples of one page: aboutness per mention, adjacency between
    * consecutive mentions (by begin, then surface) at most 30 chars apart
    * whose QIDs differ.
    */
  private def pageTriples(url: String, text: String): Set[(String, String, String)] = {
    val mentions = top1.toSeq
      .flatMap { case (s, q) => occurrences(text, s).map(b => (b, s, q)) }
      .sortBy { case (b, s, _) => (b, s) }
    val about = mentions.map { case (_, _, q) => ("data:" + url, "schema:about", "wd:" + q) }
    val adjacent = mentions.zip(mentions.drop(1)).collect {
      case ((b1, _, q1), (b2, _, q2)) if b2 - b1 <= 30 && q1 != q2 => ("wd:" + q1, "wdt:P1002", "wd:" + q2)
    }
    (about ++ adjacent).toSet
  }

  test("run(sf0.001) equals the brute-force reference, ts included") {
    val epoch = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (s"https://example.org/${r.getString(1)}/doc${r.getLong(0)}",
        epoch + r.getLong(0) * 60000L, r.getString(2)))
    val expected = docs.toSeq
      .flatMap { case (url, ts, text) => pageTriples(url, text).toSeq.map(t => ((t, url), ts)) }
      .groupMapReduce(_._1)(_._2)(math.min)
      .map { case (((s, p, o), url), ts) => (s, p, o, url, ts) }
      .toSet
    val got = KgPipeline.run(spark, sfDir, numPartitions = 4).collect()
      .map(r => (r.getAs[String]("subj"), r.getAs[String]("pred"), r.getAs[String]("obj"),
        r.getAs[String]("url"), r.getAs[java.sql.Timestamp]("ts").getTime))
    assert(expected.exists(_._2 == "wdt:P1002") && expected.exists(_._2 == "schema:about"))
    assert(got.length == got.toSet.size)
    assert(got.toSet == expected,
      s"missing ${(expected -- got).take(3)}; unexpected ${(got.toSet -- expected).take(3)}")
  }
}
