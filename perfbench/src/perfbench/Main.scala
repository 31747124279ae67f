package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Dict, Page}
import graft.functions.SparqlColumns
import graft.operators.TripleDiff
import graft.pipeline.{KgPipeline, Manifest}
import graft.sources.Tables
import graft.text.{AhoCorasick, HtmlCodec}

/** Benchmark driver: one workload, one seed, one JVM.
  *
  *   --workload kg_dense|kg_daily --seed N --seconds S --trace 0|1 --work DIR --traces DIR
  *
  * Untraced (`--trace 0`) runs report the end-to-end metrics; traced runs
  * report the per-layer metrics. Either way the last stdout line is one
  * JSON object, and the exit code is 3 when an output is wrong.
  */
object Main {
  final case class Metric(name: String, value: Double, unit: String)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cores = Runtime.getRuntime.availableProcessors
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores * 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, cores, workload, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", work, a("traces"))
    val code =
      try run.execute()
      finally spark.stop()
    sys.exit(code)
  }
}

/** Pages, expected triples and resume inputs of one set-up. */
final case class Inputs(
    pages: Array[GenPage],
    expected: Set[String],
    resume: (Array[GenPage], Set[Int]),
    daily: Option[Gen.Daily])

final class Run(spark: SparkSession, cores: Int, workload: String, seed: Long, seconds: Double,
    traced: Boolean, work: String, traceDir: String) {
  import spark.implicits._
  import Main.Metric

  private val nParts = 16
  private val isDaily = workload == "kg_daily"
  private val densePages = 6000
  private val dailyBatches = 36
  private val dailyPerBatch = 200
  private val dailyRecrawl = 0.25
  private val warmBatches = 10
  private val snapshotBatches = 3
  private val prefixBatches = 10

  private var dir: String = _
  private var in: Inputs = _
  private val metrics = mutable.ArrayBuffer.empty[Metric]
  private var attempted = 0L
  private var failed = 0L
  // correctness tallies: true positives, emitted, expected
  private var tp, emitted, expectedN = 0L
  private var mismatches = 0L
  private var partsRecomputed, partsChanged = 0L

  private def put(name: String, value: Double, unit: String): Unit = metrics += Metric(name, value, unit)

  private def now: Long = System.nanoTime()
  private def timed[T](f: => T): (T, Double) = { val t0 = now; val r = f; (r, (now - t0) / 1e9) }
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** Heap bytes allocated so far by every thread of the JVM, driver and executors alike. */
  private def allocatedBytes: Long = threads.getTotalThreadAllocatedBytes
  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def noop(df: Dataset[_]): Unit = df.write.format("noop").mode("overwrite").save()

  // ---------------------------------------------------------------- set-up

  private def generate(): Inputs = {
    val resume = Gen.resumePages(seed, nParts, nParts / 4, 3, if (isDaily) "news.example.org" else "dense.example.org")
    workload match {
      case "kg_dense" =>
        val pages = Gen.dense(seed, densePages)
        val exp = Gen.par(pages.length)(i => Oracle.keys(pages(i).url, pages(i).text).toArray).flatten.toSet
        Inputs(pages, exp, resume, None)
      case "kg_daily" =>
        val d = Gen.daily(seed, dailyBatches, dailyPerBatch, dailyRecrawl)
        Inputs(d.pages, Set.empty, resume, Some(d))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  private def writeInputs(in: Inputs, to: String): Unit = {
    if (isDaily)
      spark.createDataset(in.pages.toSeq.map(p =>
        BatchPage(p.url, new java.sql.Timestamp(p.ts), p.html, p.text, p.lang, p.batch)))
        .write.partitionBy("batch").parquet(s"$to/daily_pages.parquet")
    else spark.createDataset(in.pages.toSeq.map(_.page)).write.parquet(s"$to/pages.parquet")
    spark.createDataset(in.resume._1.toSeq.map(_.page)).write.parquet(s"$to/resume.parquet")
  }

  /** Set-up: generate the inputs, derive the expected output, write the page
    * table. Untraced runs repeat it five times and report the median.
    */
  private def setup(): Unit = {
    val reps = if (traced) 1 else 5
    val times = (0 until reps).map { k =>
      val to = s"$work/setup$k"
      val (i, t) = timed { val i = generate(); writeInputs(i, to); i }
      if (k > 0) deleteTree(Paths.get(dir))
      dir = to
      in = i
      t
    }
    if (!traced) put("setup_s", median(times), "s")
    val props = inputProps
    System.err.println(s"[perfbench] $workload seed=$seed inputs: " +
      props.map { case (k, v) => s"$k=$v" }.mkString(" "))
  }

  private def inputProps: Seq[(String, String)] = {
    val ps = in.pages
    val textChars = ps.map(_.text.length.toLong).sum
    val htmlBytes = ps.map(_.html.length.toLong).sum
    val mentions = ps.map(p => Oracle.mentions(p.text).length.toLong).sum
    val tableBytes = filesUnder(dir).filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
    Seq("pages" -> ps.length.toString, "text_chars" -> textChars.toString,
      "html_bytes" -> htmlBytes.toString, "parquet_bytes" -> tableBytes.toString,
      "mentions_per_page" -> f"${mentions.toDouble / ps.length}%.2f") ++
      in.daily.map(d => "recrawl_fraction" -> f"${d.recrawls.map(_.length).sum.toDouble / ps.length}%.3f")
  }

  // ----------------------------------------------------------- operations

  private lazy val pagesTable: Dataset[Page] = Tables.read(spark, dir, "pages").as[Page]
  private lazy val dailyTable: DataFrame = Tables.read(spark, dir, "daily_pages")
  private def storeRoot = s"$work/store"
  private def storePath = s"$storeRoot/triples.parquet"
  private def updatesPath = s"$work/updates"

  /** One batch build: read pages → triples → dedupTriples → noop sink. */
  private def build(tr: Tracer): Unit = tr.span("op.build") {
    val pages = tr.span("sources.read") { Tables.read(spark, dir, "pages").as[Page] }
    val t = tr.span("pipeline.triples") { KgPipeline.triples(spark, pages) }
    val d = tr.span("pipeline.dedupTriples") { KgPipeline.dedupTriples(t) }
    tr.span("engine.sink") { noop(d) }
  }

  private def batchPages(b: Int): Dataset[Page] =
    dailyTable.filter(col("batch") === b).drop("batch").as[Page]

  /** Old (previous version) and new triples of batch `b`'s re-crawled urls,
    * diffed into update ops.
    */
  private def diffFor(b: Int, root: String, tr: Tracer): DataFrame = {
    val prev = in.daily.get.recrawls(b).toSeq.map(r => (r.url, r.prevBatch)).toDF("url", "prev")
    val store = tr.span("sources.read") { Tables.read(spark, root, "triples") }
    tr.span("operators.diffOps") {
      val old = store.join(broadcast(prev), store("url") === prev("url") && store("batch") === prev("prev"),
        "left_semi")
        .select("url", "subj", "pred", "obj")
      val neu = store.filter(col("batch") === b).join(broadcast(prev.select("url")), Seq("url"), "left_semi")
        .select("url", "subj", "pred", "obj")
      TripleDiff.diffOps(old, neu, Seq("url", "subj", "pred", "obj"))
    }
  }

  private def render(ops: DataFrame, tr: Tracer): DataFrame = tr.span("functions.command") {
    ops.select(col("url"), col("op"),
      SparqlColumns.command(col("op"), col("subj"), col("pred"), col("obj")).as("cmd"))
  }

  /** One daily landing: the batch's triples land, then the re-crawled urls'
    * old and new triples are diffed and the update ops written.
    */
  private def land(b: Int, root: String, updates: String, tr: Tracer): Unit = tr.span("op.batch") {
    val pages = tr.span("sources.read") { batchPages(b) }
    tr.span("pipeline.writeTriplesBatch") {
      KgPipeline.writeTriplesBatch(spark, pages, s"$root/triples.parquet", b)
    }
    if (in.daily.get.recrawls(b).nonEmpty) {
      val cmds = render(diffFor(b, root, tr), tr)
      tr.span("sources.write") { Tables.format.write(cmds, s"$updates/batch=$b") }
    }
  }

  private def opPages: Int = if (isDaily) dailyPerBatch else in.pages.length

  /** Runs operation `i` (a build, or batch `i`), counting a failure instead of throwing. */
  private def op(i: Int, tr: Tracer): Option[Double] = {
    attempted += 1
    try Some(timed(if (isDaily) land(i, storeRoot, updatesPath, tr) else build(tr))._2)
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] operation $i failed: $e")
        None
    }
  }

  /** Untimed operations until the driver-side code is compiled: operation
    * times fall for the first few in a fresh JVM. Daily: the first
    * `warmBatches` batches land untimed. Batch builds: the correctness check
    * (the timed plan with a collecting sink), then two builds.
    */
  private def warmUp(): Unit =
    if (isDaily) {
      (0 until warmBatches).foreach(b => land(b, storeRoot, updatesPath, Tracer.off))
      nextOp = warmBatches
    } else {
      checkOutputs()
      build(Tracer.off)
      build(Tracer.off)
    }

  // ------------------------------------------------------------ the runs

  private var nextOp = 0

  private def hasNext: Boolean = !isDaily || nextOp < dailyBatches

  /** Closed loop, one driver thread: operations until `seconds` have
    * passed and at least three ran (daily: while batches remain).
    */
  private def timedLoop(): Unit = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val rates = mutable.ArrayBuffer.empty[Double]
    val allocs = mutable.ArrayBuffer.empty[Double]
    val t0 = now
    var k = 0
    while (((now - t0) / 1e9 < seconds || k < 3) && hasNext) {
      val a0 = allocatedBytes
      op(nextOp, Tracer.off).foreach { w =>
        walls += w
        rates += opPages / w
        allocs += (allocatedBytes - a0) / 1e3 / opPages
      }
      nextOp += 1
      k += 1
    }
    System.err.println(s"[perfbench] ${walls.length} operations in ${(now - t0) / 1e9} s, ms each: " +
      walls.map(w => (w * 1000).round).mkString(" ") +
      s"; p90 ${quantile(walls.toSeq, 0.9) * 1000} ms (fewer than ten operations beyond it); " +
      "KB allocated per page: " + allocs.map(_.round).mkString(" "))
    put("pages_per_s", median(rates.toSeq), "1/s")
    put("batch_ms_p50", median(walls.toSeq) * 1000, "ms")
    put("alloc_kb_per_page", median(allocs.toSeq), "KB")
  }

  /** Interleaves untraced and traced operations; traced ones carry spans
    * and the engine listener. Gives the tracing overhead and the engine
    * counters per operation.
    */
  private def tracedLoop(tr: Tracer, listener: EngineListener): Unit = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val withTrace = mutable.ArrayBuffer.empty[Double]
    val perOp = mutable.ArrayBuffer.empty[(Counters, Double)]
    val t0 = now
    val budget = seconds / 2
    var k = 0
    while (((now - t0) / 1e9 < budget || k < 4) && nextOp < (if (isDaily) dailyBatches - 3 else Int.MaxValue)) {
      if (k % 2 == 0) op(nextOp, Tracer.off).foreach(plain += _)
      else {
        spark.sparkContext.addSparkListener(listener)
        val c0 = listener.read()
        op(nextOp, tr).foreach { w =>
          withTrace += w
          perOp += ((listener.read() - c0, w))
        }
        spark.sparkContext.removeSparkListener(listener)
      }
      nextOp += 1
      k += 1
    }
    put("trace.overhead_pct", (median(withTrace.toSeq) / median(plain.toSeq) - 1) * 100, "%")
    def med(f: (Counters, Double) => Double) = median(perOp.toSeq.map { case (c, w) => f(c, w) })
    put("engine.task_s", med((c, _) => c.runMs / 1e3), "s")
    put("engine.cpu_s", med((c, _) => c.cpuNs / 1e9), "s")
    put("engine.gc_s", med((c, _) => c.gcMs / 1e3), "s")
    put("engine.util", med((c, w) => c.runMs / 1e3 / (w * cores)), "ratio")
    put("engine.shuffle_write_mb", med((c, _) => c.shuffleWriteBytes / 1e6), "MB")
    put("engine.shuffle_fetch_wait_s", med((c, _) => c.fetchWaitMs / 1e3), "s")
    put("engine.spill_mb", med((c, _) => c.spillBytes / 1e6), "MB")
    put("engine.max_task_over_median", med((c, _) =>
      if (c.taskMs.isEmpty) 0.0 else c.taskMs.max / math.max(1.0, median(c.taskMs.map(_.toDouble)))), "ratio")
    put("engine.jobs", med((c, _) => c.jobs.toDouble), "count")
    put("engine.stages", med((c, _) => c.stages.toDouble), "count")
    put("engine.tasks", med((c, _) => c.tasks.toDouble), "count")
    put("engine.tasks_failed", perOp.map(_._1.tasksFailed).sum.toDouble, "count")
  }

  /** Layer attribution by noop-sink runs of cumulative public-function
    * prefixes: pages → extractText → linkedMentions → triples → dedupTriples.
    */
  private def prefixes(listener: EngineListener): Unit = {
    val pages: () => Dataset[Page] =
      if (isDaily) () => dailyTable.filter(col("batch") < prefixBatches).drop("batch").as[Page]
      else () => Tables.read(spark, dir, "pages").as[Page]
    val steps: Seq[(String, () => Dataset[_])] = Seq(
      "pages" -> (() => pages()),
      "extract" -> (() => KgPipeline.extractText(spark, pages())),
      "link" -> (() => KgPipeline.linkedMentions(spark, pages())),
      "emit" -> (() => KgPipeline.triples(spark, pages())),
      "dedup" -> (() => KgPipeline.dedupTriples(KgPipeline.triples(spark, pages()))))
    spark.sparkContext.addSparkListener(listener)
    val runs = (0 until 2).flatMap(_ => steps.map { case (n, f) =>
      val c0 = listener.read()
      val (_, w) = timed(noop(f()))
      n -> (w, listener.read() - c0)
    })
    val readBytes = scanBytes(listener, steps.last._2)
    spark.sparkContext.removeSparkListener(listener)
    def wall(n: String) = median(runs.filter(_._1 == n).map(_._2._1))
    def task(n: String) = median(runs.filter(_._1 == n).map(_._2._2.runMs / 1e3))
    put("sources.read_s", wall("pages"), "s")
    put("sources.read_mb", readBytes / 1e6, "MB")
    steps.map(_._1).sliding(2).foreach { case Seq(a, b) =>
      put(s"pipeline.${b}_wall_s", wall(b) - wall(a), "s")
      put(s"pipeline.${b}_task_s", task(b) - task(a), "s")
    }
    val pre = KgPipeline.triples(spark, pages()).count()
    val post = KgPipeline.dedupTriples(KgPipeline.triples(spark, pages())).count()
    put("pipeline.triples_pre_dedup", pre.toDouble, "count")
    put("pipeline.dedup_ratio", post.toDouble / pre, "ratio")
  }

  /** Bytes the scans of one noop-sink run of `f` read, from the tasks'
    * input metrics. Those count Hadoop file-system reads, which Parquet's
    * vectored reads bypass, so this run reads with them off.
    */
  private def scanBytes(listener: EngineListener, f: () => Dataset[_]): Double = {
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "parquet.hadoop.vectored.io.enabled"
    val old = Option(conf.get(key))
    conf.set(key, "false")
    try {
      val c0 = listener.read()
      noop(f())
      (listener.read() - c0).inputBytes.toDouble
    } finally old.fold(conf.unset(key))(conf.set(key, _))
  }

  private def filesUnder(p: String): Seq[Path] = {
    val root = Paths.get(p)
    if (!Files.exists(root)) Seq.empty
    else {
      val w = Files.walk(root)
      try { val b = mutable.ArrayBuffer.empty[Path]; w.forEach(f => if (Files.isRegularFile(f)) b += f); b.toSeq }
      finally w.close()
    }
  }

  /** Write, diff and serialisation cost of daily landings, each isolated as
    * the difference between the real call and a noop-sink run of its input.
    */
  private def writeAttribution(listener: EngineListener): Unit = {
    val writeS, bytes, files, diffS, serS, opsN = mutable.ArrayBuffer.empty[Double]
    if (isDaily) {
      spark.sparkContext.addSparkListener(listener)
      val end = math.min(dailyBatches, nextOp + 2)
      while (nextOp < end) {
        val b = nextOp
        attempted += 1
        val before = filesUnder(storeRoot).length + filesUnder(updatesPath).length
        val c0 = listener.read()
        val (_, tNoop) = timed(noop(KgPipeline.dedupTriples(KgPipeline.triples(spark, batchPages(b)))))
        val (_, tLand) = timed(KgPipeline.writeTriplesBatch(spark, batchPages(b), storePath, b))
        var w = tLand - tNoop
        if (in.daily.get.recrawls(b).nonEmpty) {
          val (_, tDiff) = timed(noop(diffFor(b, storeRoot, Tracer.off)))
          val cmds = render(diffFor(b, storeRoot, Tracer.off), Tracer.off)
          val (_, tSer) = timed(noop(cmds))
          val (_, tWrite) = timed(Tables.format.write(cmds, s"$updatesPath/batch=$b"))
          w += tWrite - tSer
          diffS += tDiff
          serS += tSer - tDiff
          opsN += diffFor(b, storeRoot, Tracer.off).count().toDouble
        }
        writeS += w
        bytes += (listener.read() - c0).outputBytes.toDouble
        files += (filesUnder(storeRoot).length + filesUnder(updatesPath).length - before).toDouble
        nextOp += 1
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    def med(xs: mutable.ArrayBuffer[Double]) = if (xs.isEmpty) 0.0 else median(xs.toSeq)
    put("sources.write_s", med(writeS), "s")
    put("sources.bytes_written", med(bytes), "B")
    put("sources.files_written", med(files), "count")
    put("operators.diff_s", med(diffS), "s")
    put("operators.diff_ops", med(opsN), "count")
    put("functions.serialize_s", med(serS), "s")
  }

  /** Single-threaded driver timings of the text kernels over a fixed seeded
    * sample of the workload's pages.
    */
  private def kernels(): Unit = {
    val perm = Gen.permutation(in.pages.length, Gen.rng(seed, 9, 0))
    val sample = perm.take(256).map(in.pages(_))
    val htmlBytes = sample.map(_.html.length.toLong).sum
    val chars = sample.map(_.text.length.toLong).sum
    val trie = AhoCorasick.build(Dict.surfaces)
    var sink = 0
    def pass(f: GenPage => Int): Double = {
      var reps = 0
      val t0 = now
      while (now - t0 < 100000000L || reps == 0) { sample.foreach(p => sink += f(p)); reps += 1 }
      (now - t0) / 1e9 / reps
    }
    (0 until 2).foreach { _ => pass(p => HtmlCodec.extract(p.html).length); pass(p => trie.scan(p.text, wordBounds = true).length) }
    val ext = median((0 until 5).map(_ => pass(p => HtmlCodec.extract(p.html).length)))
    val scan = median((0 until 5).map(_ => pass(p => trie.scan(p.text, wordBounds = true).length)))
    val ms = sample.map(p => trie.scan(p.text, wordBounds = true).length.toLong).sum
    put("text.extract_us_per_page", ext / sample.length * 1e6, "us")
    put("text.extract_mb_per_s", htmlBytes / 1e6 / ext, "MB/s")
    put("text.scan_ns_per_char", scan / chars * 1e9, "ns")
    put("text.mentions_per_page", ms.toDouble / sample.length, "count")
    blackhole = sink
  }

  @volatile private var blackhole = 0

  // ------------------------------------------------------- tail: resume

  private def pageCols(df: DataFrame): DataFrame = df.select("url", "warc_ts", "html", "text", "lang")

  /** Snapshot the tail starts from: the page table, or (daily) the latest
    * version of every url of the first `snapshotBatches` batches, which the
    * warm-up always lands, so the tail's input does not depend on how many
    * batches a run manages. Returns it with its expected triple keys.
    */
  private def snapshot(): (DataFrame, Set[String]) =
    if (!isDaily) (pageCols(Tables.read(spark, dir, "pages")), in.expected)
    else {
      val latest = mutable.LinkedHashMap.empty[String, GenPage]
      in.pages.iterator.filter(_.batch < snapshotBatches).foreach(p => latest(p.url) = p)
      val keys = latest.values.toSeq.map(p => (p.url, p.batch)).toDF("url", "batch")
      val df = pageCols(dailyTable.join(broadcast(keys), Seq("url", "batch")))
      (df, latest.values.flatMap(p => Oracle.keys(p.url, p.text)).toSet)
    }

  /** Traced runs only: a direct write of the snapshot's triples, then
    * Manifest.runStage over the snapshot, then a resume after new pages land
    * in a seeded subset of partitions.
    */
  private def tail(): Unit = {
    val (base, baseExpected) = snapshot()
    val out = s"$work/stage_out"
    val manifest = s"$work/stage_manifest"
    val transform = (pending: DataFrame) =>
      KgPipeline.dedupTriples(KgPipeline.triples(spark, pending.drop("part_key").as[Page]))
    attempted += 1
    // the direct write of the same transform is the base of the manifest overhead
    val (_, direct) = timed(Tables.format.overwritePartitions(
      transform(base).withColumn("part_key", Manifest.partKey(col("url"), nParts)), s"$work/direct_out", "part_key"))
    val (_, full) = timed(Manifest.runStage(spark, base, "url", nParts, "kg_triples", out, manifest)(transform))
    val (added, parts) = in.resume
    val input = base.unionByName(pageCols(Tables.read(spark, dir, "resume")))
    val expected = baseExpected ++ added.flatMap(p => Oracle.keys(p.url, p.text))
    attempted += 1
    val (recomputed, resume) = timed(Manifest.runStage(spark, input, "url", nParts, "kg_triples", out, manifest)(transform))
    partsRecomputed = recomputed
    partsChanged = parts.size
    val got = spark.read.parquet(out).select(concat_ws("\t", col("url"), col("subj"), col("pred"), col("obj")))
      .as[String].collect()
    tally(got, expected, "stage output")
    val stageBytes = filesUnder(out).filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
    put("pipeline.manifest_overhead_s", full - direct, "s")
    put("pipeline.resume_s", resume, "s")
    put("pipeline.resume_parts_recomputed", partsRecomputed.toDouble, "count")
    put("pipeline.resume_parts_changed", partsChanged.toDouble, "count")
    put("sources.stored_bytes_per_triple", stageBytes.toDouble / got.length, "B")
  }

  // ---------------------------------------------------------- correctness

  private def tally(got: Array[String], expected: Set[String], what: String): Unit = {
    val g = got.toSet
    val hit = g.count(expected)
    val dups = got.length - g.size
    tp += hit
    emitted += got.length
    expectedN += expected.size
    if (hit != got.length || hit != expected.size)
      System.err.println(s"[perfbench] $what: ${got.length} emitted ($dups duplicate), " +
        s"${expected.size} expected, $hit correct; e.g. missing " +
        (expected -- g).take(3).mkString(" | ") + " ; unexpected " + (g -- expected).take(3).mkString(" | "))
  }

  /** Page-level extraction identity and the triples of every output the
    * workload produced, against the generator's expected sets.
    */
  private def checkOutputs(): Unit = {
    val table: Dataset[Page] =
      if (isDaily) dailyTable.filter(col("batch") < nextOp).drop("batch").as[Page] else pagesTable
    mismatches = table.filter(p => HtmlCodec.extract(p.html) != p.text).count()
    if (!isDaily) {
      val got = KgPipeline.dedupTriples(KgPipeline.triples(spark, pagesTable))
        .select(concat_ws("\t", col("url"), col("subj"), col("pred"), col("obj"))).as[String].collect()
      tally(got, in.expected, "batch build")
    } else {
      val landed = nextOp
      val d = in.daily.get
      val exp = Gen.par(landed) { b =>
        in.pages.iterator.filter(_.batch == b)
          .flatMap(p => Oracle.keys(p.url, p.text).map(k => s"$b\t$k")).toArray
      }.flatten.toSet
      val got = spark.read.parquet(storePath)
        .select(concat_ws("\t", col("batch"), col("url"), col("subj"), col("pred"), col("obj"))).as[String].collect()
      tally(got, exp, "landed triples")
      val expOps = (1 until landed).flatMap(b =>
        d.recrawls(b).toSeq.flatMap(r => Oracle.ops(r.url, r.oldText, r.newText).map(o => s"$b\t$o"))).toSet
      val gotOps = spark.read.parquet(updatesPath)
        .select(concat_ws("\t", col("batch"), col("url"), col("op"), col("cmd"))).as[String].collect()
      tally(gotOps, expOps, "update ops")
    }
  }

  // ------------------------------------------------------------- driver

  private def phase[T](name: String)(f: => T): T = {
    val (r, t) = timed(f)
    System.err.println(f"[perfbench] phase $name%-18s $t%8.3f s")
    r
  }

  def execute(): Int = {
    val t0 = now
    phase("setup")(setup())
    phase("warm-up")(warmUp())
    val tr = new Tracer(s"$workload-seed$seed")
    if (traced) {
      val listener = new EngineListener(spark.sparkContext)
      phase("traced loop")(tracedLoop(tr, listener))
      phase("write attribution")(writeAttribution(listener))
      phase("prefixes")(prefixes(listener))
      phase("kernels")(kernels())
      phase("tail")(tail())
    } else phase("timed loop")(timedLoop())
    if (isDaily) phase("check")(checkOutputs())
    if (traced) {
      Files.createDirectories(Paths.get(traceDir))
      Files.write(Paths.get(traceDir, s"$workload-seed$seed.json"), tr.json.getBytes("UTF-8"))
      tr.selfTimes.foreach { case (n, c, tot, self) =>
        System.err.println(f"[perfbench] span $n%-28s n=$c%5d total=$tot%9.3f s self=$self%9.3f s")
      }
    }
    val precision = if (emitted == 0) 0.0 else tp.toDouble / emitted
    val recall = if (expectedN == 0) 0.0 else tp.toDouble / expectedN
    if (!traced) {
      put("triple_precision", precision, "ratio")
      put("triple_recall", recall, "ratio")
    }
    val gate = Seq(
      "extract_mismatch" -> (mismatches == 0),
      "triple_precision" -> (precision >= 1.0),
      "triple_recall" -> (recall >= 1.0),
      "resume_parts" -> (partsRecomputed == partsChanged),
      "operations" -> (failed == 0))
    val correct = gate.forall(_._2)
    System.err.println(s"[perfbench] extract_mismatch=$mismatches precision=$precision recall=$recall " +
      s"resume_parts_recomputed=$partsRecomputed resume_parts_changed=$partsChanged " +
      s"error_rate=${failed.toDouble / attempted} run_s=${(now - t0) / 1e9}")
    gate.filterNot(_._2).foreach { case (n, _) => System.err.println(s"[perfbench] correctness gate failed: $n") }
    metrics.foreach(m => println(f"${m.name}%-34s ${m.value}%s ${m.unit}"))
    val body = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    if (correct) 0 else 3
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString


  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally w.close()
    }
}
