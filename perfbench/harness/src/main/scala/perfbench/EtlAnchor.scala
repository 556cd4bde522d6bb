package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, countDistinct}
import org.apache.spark.storage.StorageLevel

import graft.etl.{DataValidator, EventAggregator, EventCleaner, OpenSeaPipeline, Schemas}
import graft.sources.{Readers, Writers}

/** `OpenSeaPipeline.run` over the seeded anchor-shaped CSV corpus, with
  * RunPipeline's session settings. Every pass writes the five parquet
  * outputs and metrics.json; each pass's output is checked against the
  * generator's planted facts and then deleted.
  */
final class EtlAnchor(inputs: String, work: Path) extends Workload {
  val name = "etl_anchor"
  val session = Map(
    "spark.scheduler.mode" -> "FAIR",
    "spark.sql.adaptive.enabled" -> "false")

  private val rawDir = s"$inputs/raw"
  private val outBase = work.resolve("etl_out")
  private val facts: Map[String, String] = {
    val p = new java.util.Properties
    val in = Files.newInputStream(Paths.get(s"$inputs/facts.properties"))
    try p.load(in) finally in.close()
    p.stringPropertyNames().toArray.map(_.toString)
      .map(k => k -> p.getProperty(k)).toMap
  }
  private val inBytes = Main.treeBytes(Paths.get(rawDir)).toDouble
  private var last: Option[OpenSeaPipeline.RunResult] = None

  private val outputs = Seq("minimal_events", "daily_collection_stats",
    "token_stats", "collection_dimension", "collection_summary")

  private def config = OpenSeaPipeline.Config(rawDataDir = rawDir,
    cleanBaseDir = outBase.toString)

  private def fact(k: String): Long = facts(k).toLong

  /** Problems with one run's report, metrics and written files. */
  private def problems(spark: SparkSession,
      r: OpenSeaPipeline.RunResult): Seq[String] = {
    def want(what: String, got: Any, exp: Any) =
      if (got == exp) None else Some(s"$what $got, expected $exp")
    val metricsFile = Paths.get(s"${r.outputDir}/metrics.json")
    val json = if (Files.isRegularFile(metricsFile))
      org.json4s.jackson.JsonMethods.parse(Files.readString(metricsFile))
    else org.json4s.JNothing
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    def jLong(path: String*) = path.foldLeft(json)(_ \ _).extractOpt[Long]
    def jStr(path: String*) = path.foldLeft(json)(_ \ _).extractOpt[String]
    Seq(
      want("raw rows", r.report.totalRows, fact("raw_rows")),
      want("duplicate keys", r.report.duplicateKeyCount, fact("dup_keys")),
      want("negative prices", r.report.negativePriceCount,
        fact("negative_prices")),
      want("metrics.json total_rows", jLong("total_rows"),
        Some(fact("clean_rows"))),
      want("metrics.json date_range.min", jStr("date_range", "min"),
        Some(facts("date_min"))),
      want("metrics.json date_range.max", jStr("date_range", "max"),
        Some(facts("date_max"))),
      want("returned total_rows", r.metrics.get("total_rows"),
        Some(fact("clean_rows")))).flatten ++
      outputs.flatMap { o =>
        val p = s"${r.outputDir}/$o.parquet"
        if (!Files.isDirectory(Paths.get(p))) Some(s"$o missing")
        else if (spark.read.parquet(p).count() == 0) Some(s"$o empty")
        else None
      }
  }

  private def outBytes(r: OpenSeaPipeline.RunResult): Double =
    (outputs.map(o => Main.treeBytes(Paths.get(s"${r.outputDir}/$o.parquet")))
      .sum + Main.treeBytes(Paths.get(s"${r.outputDir}/metrics.json")))
      .toDouble

  /** The warm-up runs the pipeline over the first rows of each CSV (the
    * same plans, so code generation and JIT carry over, as in
    * RunPipeline's warm-up); every timed pass is checked instead.
    */
  def warmUp(spark: SparkSession, res: Main.Result, checkDir: Path): Unit = {
    OpenSeaPipeline.run(spark, config.copy(rawDataDir = s"$inputs/warm"))
    Main.deleteTree(outBase)
  }

  def pass(spark: SparkSession, res: Main.Result): Seq[(String, Double)] = {
    last = Some(OpenSeaPipeline.run(spark, config))
    Nil
  }

  override def afterPass(spark: SparkSession, res: Main.Result): Unit =
    last.foreach { r =>
      res.check("etl_anchor pass")(problems(spark, r))
      res.sample("etl.out_bytes_per_in_byte", outBytes(r) / inBytes)
      Main.deleteTree(outBase)
      last = None
    }

  /** The pipeline's steps one after another, over the same persisted
    * clean frame, each as its own span.
    */
  def traced(spark: SparkSession, tr: Trace, parent: String,
      res: Main.Result): Layers = {
    val L = new Layers
    def step[A](span: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val a = tr.span(span, parent)(f)
      L.put(span, (System.nanoTime() - t0) / 1e9, tr.of(span))
      a
    }
    val paths = new java.io.File(rawDir).listFiles()
      .filter(_.getName.endsWith(".csv")).map(_.getPath).sorted.toSeq
    val raw = step("sources.read_csv") {
      val df = Readers.readCsvUnionByName(spark, paths)
      Main.noop(df)
      df
    }
    val report = step("etl.validate") {
      val auditCols = (Schemas.dedupKey ++ Seq("event_type") ++
        DataValidator.rowLocalAuditCols(raw)).distinct
        .filter(raw.columns.contains)
      val keys = raw.select(auditCols.map(col): _*)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val (rowLocal, dup, evt) = DataValidator.allShuffleAudits(keys)
      keys.unpersist(blocking = true)
      DataValidator.reportFrom(raw, rowLocal, dup, evt)
    }
    step("etl.clean_parse") {
      Main.noop(Seq[DataFrame => DataFrame](
        EventCleaner.normalizeTypes, EventCleaner.cleanTimestamps,
        EventCleaner.cleanAddresses, EventCleaner.cleanPrices,
        EventCleaner.cleanEventTypes).foldLeft(raw)((d, f) => f(d)))
    }
    // The whole clean, persisted; its self time is what it adds to the
    // parse prefix.
    val cleanDf = step("etl.clean_dedup") {
      val df = EventCleaner.clean(raw).persist(StorageLevel.MEMORY_AND_DISK)
      Main.noop(df)
      df
    }
    L.timed("etl.clean_dedup.s") -= L.timed("etl.clean_parse.s")
    L.timed("etl.clean_dedup.exec_cpu_s") -=
      L.timed("etl.clean_parse.exec_cpu_s")

    val outDir = Writers.versionedDir(outBase.toString)
    step("sources.write_fact") {
      Writers.writeParquet(cleanDf, s"$outDir/minimal_events.parquet")
    }
    val factCols = Seq("collection", "event_date", "event_type", "buyer",
      "seller", "token_id", "price_total_eth", "price_each_eth",
      "contract_address", "to_address", "event_timestamp", "rarity_rank",
      "rarity_score").filter(cleanDf.columns.contains)
    val clean = cleanDf.select(factCols.map(col): _*)
    step("etl.agg_daily") {
      Writers.writeParquet(EventAggregator.dailyCollectionStats(clean)
        .repartition(1), s"$outDir/daily_collection_stats.parquet")
    }
    step("etl.agg_tokens") {
      Writers.writeParquet(EventAggregator.tokenStats(clean).repartition(1),
        s"$outDir/token_stats.parquet")
    }
    val summaryBase = step("etl.agg_summary") {
      val base = EventAggregator.collectionSummaryBase(clean)
        .persist(StorageLevel.MEMORY_AND_DISK)
      Writers.writeParquet(EventAggregator.collectionDimensionFromBase(base)
        .repartition(1), s"$outDir/collection_dimension.parquet")
      Writers.writeParquet(EventAggregator.collectionSummaryFromBase(base,
        clean).repartition(1), s"$outDir/collection_summary.parquet")
      base
    }
    val metrics = step("etl.metrics") {
      val pairs = DataValidator.metricsPairs(clean)
      val tokens = spark.read.parquet(s"$outDir/token_stats.parquet")
        .agg(countDistinct(col("token_id"))).head().getLong(0)
      val m = DataValidator.qualityMetricsFromParts(pairs,
        summaryBase.collect(), tokens)
      Writers.writeMetricsJson(m, s"$outDir/metrics.json")
      m
    }
    summaryBase.unpersist(blocking = true)
    cleanDf.unpersist(blocking = true)
    res.check("etl_anchor traced pass")(problems(spark,
      OpenSeaPipeline.RunResult(outDir, report, metrics)))
    Main.deleteTree(outBase)
    L.overlap("etl.fanout_overlap") = Seq("sources.read_csv", "etl.validate",
      "etl.clean_parse", "etl.clean_dedup", "sources.write_fact",
      "etl.agg_daily", "etl.agg_tokens", "etl.agg_summary", "etl.metrics")
    L
  }
}
