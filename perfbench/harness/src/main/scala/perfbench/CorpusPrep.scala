package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.analysis.CorpusPipeline
import graft.operators.{Dedup, Sampling, TextAnalysis}

/** `CorpusPipeline.prepare` with its default config over the seeded
  * corpus (base documents plus near-duplicate copies of each), fully
  * materialized to a `noop` sink.
  */
final class CorpusPrep(inputs: String) extends Workload {
  val name = "corpus_prep"
  val session = Map("spark.sql.adaptive.enabled" -> "true")

  private val docsPath = s"$inputs/docs.parquet"
  private def docs(spark: SparkSession) = spark.read.parquet(docsPath)
  private def prepared(spark: SparkSession) =
    CorpusPipeline.prepare(docs(spark), "text", "doc_id")

  /** Writes the prepared corpus for run.py's checks. */
  def warmUp(spark: SparkSession, res: Main.Result, checkDir: Path): Unit =
    res.check("corpus_prep warm-up") {
      prepared(spark).write.mode("overwrite")
        .parquet(checkDir.resolve("corpus").toString)
      Nil
    }

  def pass(spark: SparkSession, res: Main.Result): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    res.check("corpus_prep pass") { Main.noop(prepared(spark)); Nil }
    Seq("corpus.wall_s" -> (System.nanoTime() - t0) / 1e9)
  }

  /** The stages of `prepare` (default config) one after another, each
    * over the persisted output of the one before.
    */
  def traced(spark: SparkSession, tr: Trace, parent: String,
      res: Main.Result): Layers = {
    val L = new Layers
    val held = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def step(span: String)(f: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val df = tr.span(span, parent) {
        val d = f.persist(StorageLevel.MEMORY_AND_DISK)
        Main.noop(d)
        d
      }
      L.put(span, (System.nanoTime() - t0) / 1e9, tr.of(span))
      held += df
      df
    }
    val c = CorpusPipeline.Config()
    val input = docs(spark)
    val quality = step("text.quality") {
      TextAnalysis.withQualityFeatures(input, "text")
        .where(col("n_tokens") >= c.minTokens &&
          (col("punct_ratio").isNull || col("punct_ratio") <= c.maxPunctRatio))
    }
    val lang = step("text.langid") {
      TextAnalysis.withLanguageId(quality, "text")
    }
    val exact = step("dedup.exact") {
      lang.join(Dedup.exactTextDedup(lang, "text", "doc_id")
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
    }
    var pairs = 0L
    val near = step("dedup.minhash_lsh") {
      val p = Dedup.minHashLshPairs(exact, "text", "doc_id", shingleSize = 3,
        numHashes = 32, rowsPerBand = 4, threshold = c.nearDupThreshold)
        .persist(StorageLevel.MEMORY_AND_DISK)
      pairs = p.count()
      held += p
      exact.join(p.select(col("id_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    }
    val split = step("sampling.split") {
      Sampling.withSplit(near, "doc_id", c.valPct, c.testPct)
    }
    val kept = split.count()
    val total = input.count()
    held.foreach(_.unpersist(blocking = true))
    L.exact("dedup.lsh_pairs") = pairs.toDouble
    L.exact("dedup.kept_ratio") = kept.toDouble / total
    L
  }
}
