package perfbench

import java.util.SplittableRandom
import graft.model.{Dict, Page}

/** One generated page. `batch` is the landing batch (daily workload) or 0. */
final case class GenPage(url: String, ts: Long, html: Array[Byte], text: String, lang: String,
    batch: Int) {
  def page: Page = Page(url, new java.sql.Timestamp(ts), html, text, lang)
}

/** Row shape of the daily page table: the page columns plus its batch. */
final case class BatchPage(url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
    text: String, lang: String, batch: Int)

/** Expected pipeline output, derived from page text alone with a naive
  * word-bounded `indexOf` scan over `Dict.aliases` — deliberately a
  * different algorithm from the program's Aho-Corasick scan and window plan.
  */
object Oracle {
  /** Top-1 qid per surface: prior descending, then qid ascending. */
  val best: Map[String, String] =
    Dict.aliases.groupBy(_.surface).map { case (s, as) =>
      s -> as.sortWith((a, b) => a.prior > b.prior || (a.prior == b.prior && a.qid < b.qid)).head.qid
    }
  val surfaces: Seq[String] = best.keys.toSeq.sorted
  val followedBy: String = "wdt:" + Dict.properties("followed_by")
  val maxGap = 30

  private def wordChar(c: Char): Boolean = Character.isLetterOrDigit(c)

  /** Every word-bounded occurrence of every surface, ordered by (begin, surface). */
  def mentions(text: String): Seq[(Int, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    surfaces.foreach { s =>
      var i = text.indexOf(s)
      while (i >= 0) {
        val end = i + s.length
        if ((i == 0 || !wordChar(text.charAt(i - 1))) && (end == text.length || !wordChar(text.charAt(end))))
          out += ((i, s))
        i = text.indexOf(s, i + 1)
      }
    }
    out.sortWith((a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)).toSeq
  }

  /** Distinct (subj, pred, obj) of one page: aboutness per linked mention,
    * followed_by between consecutive mentions within `maxGap` chars whose
    * qids differ.
    */
  def triples(url: String, text: String): Set[(String, String, String)] = {
    val linked = mentions(text).map { case (b, s) => (b, best(s)) }
    val about = linked.map { case (_, q) => ("data:" + url, "schema:about", "wd:" + q) }
    val adj = linked.zip(linked.drop(1)).collect {
      case ((b1, q1), (b2, q2)) if b2 - b1 <= maxGap && q1 != q2 => ("wd:" + q1, followedBy, "wd:" + q2)
    }
    (about ++ adj).toSet
  }

  def keys(url: String, text: String): Iterator[String] =
    triples(url, text).iterator.map { case (s, p, o) => s"$url\t$s\t$p\t$o" }

  /** Expected update ops of one re-crawled url: INSERT new ∖ old, DELETE old ∖ new,
    * each as the rendered SPARQL command.
    */
  def ops(url: String, oldText: String, newText: String): Seq[String] = {
    val o = triples(url, oldText)
    val n = triples(url, newText)
    def render(op: String, t: (String, String, String)) = s"$url\t$op\t$op DATA { ${t._1} ${t._2} ${t._3} . };"
    (n -- o).toSeq.map(render("INSERT", _)) ++ (o -- n).toSeq.map(render("DELETE", _))
  }
}

/** Seeded page generator with its own HTML writer. Every page draws from its
  * own `SplittableRandom` keyed by (seed, stream, index), so generation is
  * parallel and still deterministic per seed. Page lengths come from a
  * fixed stratified grid that the seed only permutes: every seed gets the
  * same distribution, different pages.
  */
object Gen {
  private val fillers = Array(
    "the", "a", "of", "data", "engine", "runs", "fast", "over", "each", "row", "and", "then",
    "with", "plan", "stage", "task", "node", "cluster", "cache", "index", "page", "link",
    "graph", "entity", "value", "type", "key", "slot", "lane", "shard", "log", "wire", "frame",
    "bytes", "memo", "result", "state", "rank", "score", "quick", "lazy", "to", "in", "is")
  // near misses: contain a surface but fail the word-bound or case test
  private val nearMisses = Array(
    "scanner", "scans", "rescan", "joined", "joins", "hashed", "hashes", "tables", "sparkle",
    "Spark", "Table", "sorting", "sorted", "grouping", "ordered", "merged", "batches",
    "windows", "streams", "filtered", "queryable", "columns", "vectors", "customers", "scané")
  private val unicode = Array("café", "über", "naïve", "straße", "données", "日本語", "Zürich")
  // separators: word bounds of every kind plus the characters html must escape
  private val seps = Array(" ", " ", " ", " ", " ", ", ", ". ", " - ", "_", "/", " & ", " \"",
    "\" ", " <", "> ", "'", "\n")
  private val surfaces = Oracle.surfaces.toArray
  // the overlapping multi-word surfaces, over-weighted so they recur
  private val overlapping = Array("hash join", "table scan")

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream << 40) ^ i * 0xBF58476D1CE4E5B9L)

  /** Seeded permutation of 0 until n. */
  def permutation(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  /** Text of roughly `len` chars; `density` is the chance a token is a
    * mention. Mentions draw from a small per-page topic set, so they repeat
    * within a page.
    */
  def text(r: SplittableRandom, len: Int, density: Double): String = {
    val topics = Array.fill(3 + r.nextInt(4)) {
      if (r.nextInt(4) == 0) overlapping(r.nextInt(overlapping.length)) else surfaces(r.nextInt(surfaces.length))
    }
    val sb = new StringBuilder(len + 32)
    while (sb.length < len) {
      val u = r.nextDouble()
      val tok =
        if (u < density) topics(r.nextInt(topics.length))
        else if (u < density + 0.08) nearMisses(r.nextInt(nearMisses.length))
        else if (u < density + 0.10) unicode(r.nextInt(unicode.length))
        else fillers(r.nextInt(fillers.length))
      sb.append(tok).append(seps(r.nextInt(seps.length)))
    }
    sb.toString
  }

  /** Re-crawl edit: rewrites a seeded share of the words of `old`. */
  def edit(r: SplittableRandom, old: String, density: Double): String = {
    val words = old.split(" ", -1)
    val out = words.map { w =>
      if (r.nextInt(5) == 0) text(r, 1, density).trim else w
    }
    out.mkString(" ") + text(r, 20 + r.nextInt(60), density)
  }

  private def escape(s: String, sb: StringBuilder): Unit = {
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '"' => sb.append("&quot;")
        case '\'' => sb.append("&apos;")
        case c => sb.append(c)
      }
      i += 1
    }
  }

  /** HTML whose body text nodes, concatenated and entity-unescaped, equal
    * `text` exactly: the text is split at seeded offsets into paragraphs,
    * bold runs and links, between a head (title and style, outside the
    * extracted body) and a trailing comment and script.
    */
  def html(r: SplittableRandom, url: String, text: String): Array[Byte] = {
    val sb = new StringBuilder(text.length * 2 + 256)
    sb.append("<!DOCTYPE html><html lang=\"en\"><head><meta charset=\"utf-8\"><title>")
    escape(url, sb)
    sb.append("</title><style>body{margin:0}</style></head><body><div class=\"page\">")
    val cuts = (Array.fill(r.nextInt(3))(r.nextInt(text.length + 1)) ++ Array(0, text.length)).sorted
    var k = 0
    while (k < cuts.length - 1) {
      val chunk = text.substring(cuts(k), cuts(k + 1))
      r.nextInt(3) match {
        case 0 => sb.append("<p>"); escape(chunk, sb); sb.append("</p>")
        case 1 => sb.append("<p class=\"c").append(k).append("\"><b>"); escape(chunk, sb); sb.append("</b></p>")
        case _ => sb.append("<a href=\"/w/").append(r.nextInt(5000)).append("\">"); escape(chunk, sb); sb.append("</a>")
      }
      k += 1
    }
    sb.append("</div><!-- <p>cached</p> --><SCRIPT>trk(").append(r.nextInt(97)).append(");</SCRIPT></body></html>")
    sb.toString.getBytes("UTF-8")
  }

  /** Parallel, order-preserving map over 0 until n on the common pool (≤ nproc threads). */
  def par[T <: AnyRef](n: Int)(f: Int => T)(implicit ct: scala.reflect.ClassTag[T]): Array[T] = {
    val out = new Array[T](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => out(i) = f(i))
    out
  }

  val baseTs: Long = 1704067200000L // 2024-01-01T00:00:00Z

  /** kg_dense: many short pages, light markup, dense repeating mentions. */
  def dense(seed: Long, n: Int): Array[GenPage] = {
    val lens = permutation(n, rng(seed, 1, 0)).map(i => 200 + (i * 300L / n).toInt)
    par(n) { i =>
      val r = rng(seed, 2, i)
      val url = s"https://dense.example.org/s$seed/p$i"
      val t = text(r, lens(i), 0.4)
      GenPage(url, baseTs + i * 1000L, html(r, url, t), t, if (i % 10 == 0) "de" else "en", 0)
    }
  }

  /** One daily batch: fresh pages plus re-crawls of earlier urls. */
  final case class Recrawl(url: String, prevBatch: Int, oldText: String, newText: String)
  final case class Daily(pages: Array[GenPage], recrawls: Array[Array[Recrawl]])

  /** kg_daily: `batches` batches of `perBatch` pages; from batch 1 on, a
    * `recrawl` share of each batch re-crawls distinct earlier urls with
    * edited text. Sequential, since each batch depends on the ones before.
    */
  def daily(seed: Long, batches: Int, perBatch: Int, recrawl: Double): Daily = {
    val urls = scala.collection.mutable.ArrayBuffer.empty[String]
    val latest = scala.collection.mutable.HashMap.empty[String, (Int, String)]
    val pages = scala.collection.mutable.ArrayBuffer.empty[GenPage]
    val recrawls = Array.fill(batches)(Array.empty[Recrawl])
    (0 until batches).foreach { b =>
      val r = rng(seed, 6, b)
      val nRe = if (b == 0) 0 else math.min(urls.length, (perBatch * recrawl).toInt)
      val picked = scala.collection.mutable.LinkedHashSet.empty[String]
      while (picked.size < nRe) picked += urls(r.nextInt(urls.length))
      val re = picked.toArray.map { u =>
        val (pb, old) = latest(u)
        Recrawl(u, pb, old, edit(r, old, 0.25))
      }
      recrawls(b) = re
      val fresh = Array.tabulate(perBatch - nRe) { k =>
        val u = s"https://news.example.org/s$seed/b$b/n$k"
        urls += u
        (u, text(r, 250 + r.nextInt(200), 0.25))
      }
      (re.map(x => (x.url, x.newText)) ++ fresh).zipWithIndex.foreach { case ((u, t), k) =>
        latest(u) = (b, t)
        pages += GenPage(u, baseTs + b * 86400000L + k * 1000L, html(r, u, t), t, "en", b)
      }
    }
    Daily(pages.toArray, recrawls)
  }

  /** Partition key of `url` as `Manifest.partKey` assigns it, computed with
    * the engine's XXH64 (seed 42, the `xxhash64` default) directly.
    */
  def partKey(url: String, nParts: Int): Int = {
    val b = url.getBytes("UTF-8")
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    (((h % nParts) + nParts) % nParts).toInt
  }

  /** Resume input: pages with new urls, `perPart` in each of a seeded
    * subset of `changed` partitions; returns the pages and that subset.
    */
  def resumePages(seed: Long, nParts: Int, changed: Int, perPart: Int,
      host: String): (Array[GenPage], Set[Int]) = {
    val r = rng(seed, 7, 0)
    val parts = permutation(nParts, r).take(changed).toSet
    val want = scala.collection.mutable.HashMap.empty[Int, Int].withDefaultValue(0)
    val out = scala.collection.mutable.ArrayBuffer.empty[GenPage]
    var i = 0
    while (out.length < changed * perPart) {
      val u = s"https://$host/s$seed/resume/$i"
      val k = partKey(u, nParts)
      if (parts(k) && want(k) < perPart) {
        want(k) += 1
        val t = text(r, 300, 0.3)
        out += GenPage(u, baseTs + 1000L * 86400000L + i, html(r, u, t), t, "en", 0)
      }
      i += 1
    }
    (out.toArray, parts)
  }
}
