package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Alias, Dict, Page}
import graft.functions.SparqlColumns
import graft.text.{AhoCorasick, HtmlCodec}

/** The flagship end-to-end KG-construction pipeline (north_star): pages →
  * HTML→text extraction → Aho-Corasick mention scan over the broadcast
  * dictionary → top-1 entity linking → triple emission (about + adjacency)
  * → QID/PID canonicalization → distinct over (subj, pred, obj, url) →
  * SPARQL command rendering.
  *
  * Every triple is a function of its own page only: aboutness is keyed by
  * url and adjacency pairs mentions of one page. So extraction, scan, link
  * and emit are ONE page-local kernel (`linkPage` + `emitPage`), run as a
  * Catalyst `explode` over a Scala UDF on (url, html); url and ts stay
  * attributes of the Generate, so the input partitioning survives it.
  *
  * Physical shape (verify with .explain("formatted")):
  *  - on plain input, scan → kernel → partial dedup aggregate run fused in
  *    the parallel scan tasks; the only exchange is the map-side-combined
  *    dedup aggregate, which moves one row per distinct triple;
  *  - on url-partitioned input (`run`), the input `repartition(url)`
  *    already satisfies the dedup aggregate: no exchange follows it;
  *  - no window, no join, no broadcast exchange: the dictionary travels as
  *    broadcast variables, and html bytes never leave the task that reads
  *    or synthesizes them.
  */
object KgPipeline {

  final case class ExtractedPage(url: String, warc_ts: java.sql.Timestamp, text: String, lang: String)

  /** Extraction stage with the per-row byte-identity invariant
    * (BASELINE.json input_hint): extract(html) must equal the text column.
    * Violations are counted in the `extract_mismatches` accumulator rather
    * than thrown, matching the reference's skip-on-error posture
    * (/root/reference/src/wikidata_update/ttl_compare.py:177-178).
    */
  def extractText(spark: SparkSession, pages: Dataset[Page]): Dataset[ExtractedPage] = {
    import spark.implicits._
    val mismatches = spark.sparkContext.longAccumulator("extract_mismatches")
    pages.mapPartitions(_.map { p =>
      val extracted = HtmlCodec.extract(p.html)
      if (extracted != p.text) mismatches.add(1)
      ExtractedPage(p.url, p.warc_ts, extracted, p.lang)
    })
  }

  /** One mention occurrence of a page linked to its top-1 QID. */
  final case class LinkedMention(surface: String, begin: Int, qid: String, score: Double)

  /** One triple emitted by a page (its url and ts are the page's). */
  final case class PageTriple(subj: String, pred: String, obj: String)

  /** Best alias per surface under the pipeline's top-1 rule: prior desc,
    * then qid asc.
    */
  private def aliasBest: Map[String, Alias] =
    Dict.aliases.groupBy(_.surface).map { case (s, as) => s -> as.minBy(a => (-a.prior, a.qid)) }

  /** The kernel's link step: extract(html) → word-bounded Aho-Corasick scan
    * → top-1 link, in (begin, surface) order — the order adjacency reads.
    */
  private def linkPage(trie: AhoCorasick, best: Map[String, Alias], html: Array[Byte]): Seq[LinkedMention] =
    trie.scan(HtmlCodec.extract(html), wordBounds = true)
      .flatMap(m => best.get(m.pattern).map(a => LinkedMention(m.pattern, m.begin, a.qid, a.prior)))
      .sortBy(m => (m.begin, m.surface))

  private val FollowedBy = "wdt:" + Dict.properties("followed_by")

  /** The kernel's emit step, distinct within the page:
    *  - page-aboutness: (data:<url>, schema:about, wd:Q…) per linked QID —
    *    the analogue of the reference's schema-level rows
    *    (sample_result.txt:25-27);
    *  - adjacency: consecutive mentions within `maxGap` chars whose QIDs
    *    differ emit (wd:Q1, wdt:P1002, wd:Q2) (followed_by, Dict.properties).
    */
  private def emitPage(url: String, linked: Seq[LinkedMention], maxGap: Int): Seq[PageTriple] = {
    val about = linked.map(_.qid).distinct.map(q => PageTriple("data:" + url, "schema:about", "wd:" + q))
    val adjacent = linked.zip(linked.drop(1)).collect {
      case (a, b) if b.begin - a.begin <= maxGap && a.qid != b.qid =>
        PageTriple("wd:" + a.qid, FollowedBy, "wd:" + b.qid)
    }
    about ++ adjacent.distinct
  }

  /** `linkPage` over the dictionary, shipped once per call as broadcast
    * variables (the trie and the top-1 map), not as a broadcast join.
    */
  private def linker(spark: SparkSession): Array[Byte] => Seq[LinkedMention] = {
    val trie = spark.sparkContext.broadcast(AhoCorasick.build(Dict.surfaces))
    val best = spark.sparkContext.broadcast(aliasBest)
    html => linkPage(trie.value, best.value, html)
  }

  /** Linked top-1 mentions per page occurrence — the kernel's link step as
    * a plan of its own: url, warc_ts, surface, begin, qid, score. Page-local
    * like `triples`, so it adds no exchange.
    */
  def linkedMentions(spark: SparkSession, pages: Dataset[Page]): DataFrame = {
    val link = udf(linker(spark))
    pages.select(col("url"), col("warc_ts"), explode(link(col("html"))).as("m"))
      .select(col("url"), col("warc_ts"), col("m.surface"), col("m.begin"), col("m.qid"),
        col("m.score"))
  }

  /** Triples of every page row, distinct within the row (not across rows of
    * one url: `dedupTriples` does that). Output columns: subj, pred, obj,
    * url, ts. The same plan serves batch, incremental landing, Manifest
    * recompute and Structured Streaming (StreamIngest.streamTriples): it
    * holds no window or stateful operator.
    */
  def triples(spark: SparkSession, pages: Dataset[Page], maxGap: Int = 30): DataFrame = {
    val link = linker(spark)
    val kernel = udf((url: String, html: Array[Byte]) => emitPage(url, link(html), maxGap))
    pages.select(col("url"), col("warc_ts").as("ts"),
        explode(kernel(col("url"), col("html"))).as("t"))
      .select(col("t.subj"), col("t.pred"), col("t.obj"), col("url"), col("ts"))
  }

  /** Windowed distinct over (subj, pred, obj, url) with earliest-ts survivor
    * (north_rule A4). Expressed as an aggregate (min over the only non-key
    * column) rather than a row_number window: identical rows out, but the
    * hash aggregate combines map-side, so the shuffle moves one row per key
    * instead of one per duplicate. (The general survivor pick for arbitrary
    * payload columns is Dedup.windowedDistinct.)
    */
  def dedupTriples(t: DataFrame): DataFrame =
    t.groupBy(col("subj"), col("pred"), col("obj"), col("url"))
      .agg(min(col("ts")).as("ts"))

  /** Full pipeline → deduped canonical triples. */
  def run(spark: SparkSession, dir: String, numPartitions: Int = 32): DataFrame = {
    import graft.sources.Tables
    dedupTriples(triples(spark, Tables.pagesPartitioned(spark, dir, numPartitions)))
  }

  /** Node table of the materialized graph: every entity appearing as a
    * subject or object, with out/in degree and distinct-source counts —
    * two partial-aggregating shuffles + one full-outer join, all on the
    * node key.
    */
  def nodeTable(triples: DataFrame): DataFrame = {
    val outd = triples.groupBy(col("subj").as("node"))
      .agg(count(lit(1)).as("out_degree"), countDistinct(col("url")).as("n_urls"))
    val ind = triples.groupBy(col("obj").as("node"))
      .agg(count(lit(1)).as("in_degree"))
    outd.join(ind, Seq("node"), "full_outer")
      .select(
        col("node"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        coalesce(col("n_urls"), lit(0L)).as("n_urls"))
  }

  /** North-star materialize: the deduped triples as partitioned nodes/edges
    * tables, written through the table-format seam (Tables.format — Parquet
    * hash buckets here, Iceberg's bucket transform in production with no
    * call-site change). Edges bucket on subj so one node's out-edges
    * co-locate (adjacency scans read one bucket); nodes bucket on the node
    * key.
    */
  def materializeGraph(triples: DataFrame, outPath: String, buckets: Int = 16): Unit = {
    import graft.sources.Tables
    Tables.format.writeBucketed(triples, s"$outPath/edges", col("subj"), buckets)
    Tables.format.writeBucketed(nodeTable(triples), s"$outPath/nodes", col("node"), buckets)
  }

  /** Resumable form of the full pipeline (north_rule: checkpoint/resume with
    * per-partition lineage + metrics). Every triple is a function of its own
    * page only (aboutness + within-page adjacency; dedup key includes url),
    * so the pipeline is url-partition-local and `Manifest.runStage` resume
    * semantics apply directly: on restart, only partitions whose input
    * fingerprint is missing/stale recompute; outputs land with dynamic
    * partition overwrite; lineage rows carry (rows_in, rows_out, wall_ms).
    * Returns the number of partitions actually computed this invocation.
    */
  def runResumable(
      spark: SparkSession,
      dir: String,
      outPath: String,
      manifestPath: String,
      nParts: Int = 32
  ): Long = {
    import spark.implicits._
    val pagesDf = graft.sources.Tables.pages(spark, dir).toDF()
    Manifest.runStage(spark, pagesDf, "url", nParts, "kg_triples", outPath, manifestPath) {
      pending => dedupTriples(triples(spark, pending.drop("part_key").as[Page]))
    }
  }

  /** Incremental landing of the flagship pipeline's output — the daily-loop
    * primitive for the KG itself (the q80 pattern applied to the engine's
    * flagship, reference E1 sparql_updates.py:336-462): process ONE page
    * batch alone and land it in its own `batch` partition of the stored
    * triple layout. Valid because every pipeline triple is a function of its
    * own page (aboutness + within-page adjacency; the dedup key includes
    * url) and each url lives in exactly one batch — so per-batch
    * `dedupTriples` emits exactly the full recompute's rows for that batch's
    * urls, and the MERGED layout is byte-identical to a one-shot run over
    * all pages (q81 gates this on the flagship's own oracle, q40's SQL
    * verbatim). Dynamic partition overwrite makes a day's re-run idempotent
    * (it rewrites only that day's partition); the lineage row records which
    * page batches are in the layout (auditable via auditLayoutLineage).
    *
    * At 100 TB this is what turns the KG build from a full nightly recompute
    * into an append-bounded job: day N's cost is day N's pages, while
    * yesterday's partitions are never re-read or rewritten (PipelineSpec
    * asserts the day-1 files are byte-untouched by the day-2 landing).
    */
  def writeTriplesBatch(
      spark: SparkSession,
      pages: Dataset[Page],
      path: String,
      batchId: Long
  ): Unit = {
    import graft.sources.Tables
    val out = dedupTriples(triples(spark, pages)).withColumn("batch", lit(batchId))
    Tables.format.overwritePartitions(out, path, "batch")
    // idempotency key = the batch: the data write REPLACES the batch
    // partition, so a re-landing must supersede its lineage row, not
    // double-append it (a doubled row would fail the audit forever on
    // byte-correct data)
    Tables.recordLayoutLineage(path, s"batch=$batchId", pages.toDF(), "url",
      idempotencyKey = Some(s"batch$batchId"))
  }

  /** Incremental node-table maintenance — the aggregate-update half of the
    * incremental KG: out/in degree and distinct-source counts are SUMS over
    * batch-disjoint triple sets (urls are batch-disjoint, so even the
    * countDistinct(url) legs add exactly), so appending a page batch updates
    * the stored node table with ONE full-outer merge against the NEW batch's
    * (append-sized) node aggregate — yesterday's triples are never
    * re-aggregated. q82 gates the maintained table against q55's SQL
    * verbatim, proving update-by-merge == full recompute.
    */
  def mergeNodeTables(a: DataFrame, b: DataFrame): DataFrame =
    sumMerge(a, b, "node", Seq("out_degree", "in_degree", "n_urls"))

  /** THE merge algebra every incrementally-maintained aggregate shares:
    * full-outer join two stored states on the key; for each column, a key
    * present on one side only keeps that side's value, and a key on both
    * sides combines with the column's SEMIGROUP op (sum for counts, least
    * for min-survivors, greatest for max-watermarks). Valid whenever the
    * states were aggregated over disjoint input batches and every stored
    * column's aggregate is associative+commutative — which is why
    * maintained state must store mergeable aggregates (sums, mins, maxes)
    * and derive ratios at read time.
    */
  def semigroupMerge(a: DataFrame, b: DataFrame, key: String,
      ops: Seq[(String, (Column, Column) => Column)]): DataFrame = {
    val l = a.select(col(key) +: ops.map { case (c, _) => col(c).as(c + "_a") }: _*)
    val r = b.select(col(key) +: ops.map { case (c, _) => col(c).as(c + "_b") }: _*)
    l.join(r, Seq(key), "full_outer")
      .select(col(key) +: ops.map { case (c, op) =>
        when(col(c + "_a").isNull, col(c + "_b"))
          .when(col(c + "_b").isNull, col(c + "_a"))
          .otherwise(op(col(c + "_a"), col(c + "_b"))).as(c)
      }: _*)
  }

  /** semigroupMerge with every column summed — the common case (node table
    * q82, corpus report q87).
    */
  def sumMerge(a: DataFrame, b: DataFrame, key: String, sumCols: Seq[String]): DataFrame =
    semigroupMerge(a, b, key, sumCols.map(c => c -> ((x: Column, y: Column) => x + y)))

  /** S7/C11 — golden file serialization (write_to_file,
    * /root/reference/src/wikidata_update/get_updates.py:1077-1085;
    * sparql_updates.py:313-333): the 20-line PREFIX preamble, then each
    * block followed by a blank line. Driver-side by design — golden files
    * are small; table output goes through the Tables.format seam.
    */
  def goldenFile(blocks: Seq[String]): String =
    graft.text.SparqlFormat.prefixHeader + "\n" +
      blocks.map(_ + "\n\n").mkString

  /** The reference's SEPERATOR constant (sparql_updates.py:101). */
  val Separator: String = "\n" + "=" * 80 + "\n"

  /** Full changes-file serialization matching sparql_updates.main's output
    * assembly (sparql_updates.py:441-459 + write_to_file 313-333;
    * sample_result.txt grammar): per QID change, a `changes for entity: …`
    * header element, the diff text, and the separator — each element
    * written followed by a blank line after the prefix header.
    */
  def goldenChangesFile(changes: Seq[(String, Long, Long, String)]): String = {
    val elements = changes.flatMap { case (entity, oldRev, newRev, diffText) =>
      Seq(
        s"changes for entity: $entity between old_revid: $oldRev and new_revid: $newRev",
        diffText,
        Separator
      )
    }
    goldenFile(elements)
  }

  /** Golden serialization (A2/O1): one `INSERT DATA { s p o . };` command per
    * triple, grouped per subject into reference-shaped blocks, newest first.
    * Only for golden-file comparison — table writes skip the global sort.
    */
  def emit(t: DataFrame): DataFrame = {
    val cmds = t.select(
      col("subj"),
      SparqlColumns.command(lit("INSERT"), col("subj"), col("pred"), col("obj")).as("cmd"),
      col("ts")
    )
    cmds
      .groupBy(col("subj"))
      .agg(
        concat_ws("\n", array_sort(collect_list(col("cmd")))).as("block"),
        max(col("ts")).as("max_ts")
      )
      .orderBy(col("max_ts").desc, col("subj").asc)
  }
}
