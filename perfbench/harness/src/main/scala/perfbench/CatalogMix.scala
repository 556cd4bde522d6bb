package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** Named `SparkEntry.queries` over benchmark-made tables, each fully
  * materialized to a `noop` sink, in an order the seed permutes. Every
  * query is one operation; a query that throws fails it.
  */
final class CatalogMix(inputs: String, seed: Long) extends Workload {
  import CatalogMix._

  val name = "catalog_mix"
  val session = Map("spark.sql.adaptive.enabled" -> "true")

  private val dir = s"$inputs/main"
  private val order: Seq[String] =
    new scala.util.Random(seed).shuffle(groups.map(_._2))
  private val fn = SparkEntry.queries

  override def setup(spark: SparkSession): Unit =
    tables.foreach(t => Tables.load(spark, dir, t).cache().count())

  /** Writes each result as parquet, with the oracle SQL of each query,
    * for the comparison run.py makes.
    */
  def warmUp(spark: SparkSession, res: Main.Result, checkDir: Path): Unit = {
    java.nio.file.Files.createDirectories(checkDir)
    val oracles = order.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap
    java.nio.file.Files.writeString(checkDir.resolve("oracle_sql.json"),
      org.json4s.jackson.Serialization.write(oracles)(org.json4s.DefaultFormats))
    order.foreach { q =>
      res.check(s"catalog_mix warm-up $q") {
        val d = if (checkedSmall(q)) s"$inputs/small" else dir
        fn(q)(spark, d).coalesce(1).write.mode("overwrite")
          .parquet(checkDir.resolve(q).toString)
        Nil
      }
    }
  }

  def pass(spark: SparkSession, res: Main.Result): Seq[(String, Double)] = {
    var jobBound, compute = 0.0
    order.foreach { q =>
      val t0 = System.nanoTime()
      res.check(s"catalog_mix $q") { Main.noop(fn(q)(spark, dir)); Nil }
      val dt = (System.nanoTime() - t0) / 1e9
      if (computeBound(q)) compute += dt else jobBound += dt
    }
    Seq("cat.jobbound.wall_s" -> jobBound, "cat.compute.wall_s" -> compute)
  }

  /** Each query as a span, reported under its group's name. `.build_s`
    * is the time inside the query function before it returns its
    * DataFrame, where eager checkpoints and fits run.
    */
  def traced(spark: SparkSession, tr: Trace, parent: String,
      res: Main.Result): Layers = {
    val L = new Layers
    order.foreach { q =>
      val g = groupOf(q)
      val t0 = System.nanoTime()
      var built = 0.0
      tr.span(q, parent) {
        res.check(s"catalog_mix traced $q") {
          val df = fn(q)(spark, dir)
          built = (System.nanoTime() - t0) / 1e9
          Main.noop(df)
          Nil
        }
      }
      L.put(g, (System.nanoTime() - t0) / 1e9, tr.of(q))
      L.timed(s"$g.build_s") = built
    }
    L
  }
}

object CatalogMix {
  val tables = Seq("events", "embeddings", "documents")

  /** One query per operator family: group -> query. The first two are
    * compute-bound (their executors stay busy); the rest are bound by job
    * count.
    */
  val groups: Seq[(String, String)] = Seq(
    "cat.similarity" -> "ann15_mmr_rerank",
    "cat.text" -> "t70_char_entropy",
    "cat.clustering" -> "m6_kmeans_clusters",
    "cat.streaming" -> "st2_sessionize_batch",
    "cat.sql" -> "a1_daily_event_stats")

  val computeBound: Set[String] = groups.take(2).map(_._2).toSet

  def groupOf(q: String): String = groups.find(_._2 == q).get._1

  /** Run for checking on the small tables: the DuckDB oracle of MMR
    * unrolls the greedy rounds in SQL and takes tens of seconds on the
    * timed ones.
    */
  val checkedSmall = Set("ann15_mmr_rerank")
}
