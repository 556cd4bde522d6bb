package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark JVM: set up a workload, run its untimed warm-up pass
  * (which writes what run.py checks under `<work>/check`), time full
  * passes for a fixed number of seconds and, with `--trace 1`, run the
  * passes that give the per-layer counters. Results go to the JSON file
  * named by `--out`; `perfbench/run.py` drives this.
  *
  *   --workload etl_anchor|operators_mix
  *   --inputs DIR   inputs made by run.py for this workload
  *   --work DIR     working directory inside the checkout
  *   --seconds S    time budget of the timed passes
  *   --seed N       orders the catalog queries
  *   --trace 0|1    run the traced passes too
  *   --out FILE
  */
object Main {

  /** Accumulates the result file: flat numbers, lists of numbers and
    * failure messages.
    */
  final class Result {
    val nums = mutable.LinkedHashMap[String, Double]()
    val lists = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0L

    def sample(k: String, v: Double): Unit =
      lists.getOrElseUpdate(k, mutable.ArrayBuffer()) += v

    /** Counts one operation; a non-empty list of problems fails it. */
    def check(what: String)(problems: => Seq[String]): Unit = {
      attempted += 1
      val ps = try problems catch {
        case e: Throwable => Seq(s"threw ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
      }
      if (ps.nonEmpty) failures += s"$what: ${ps.mkString("; ")}"
    }

    def json: String = {
      def q(s: String) = "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
      def n(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
      val parts = nums.map { case (k, v) => s"${q(k)}:${n(v)}" } ++
        lists.map { case (k, vs) => s"${q(k)}:${vs.map(n).mkString("[", ",", "]")}" } ++
        Seq(s""""attempted":$attempted""",
          s""""failures":${failures.map(q).mkString("[", ",", "]")}""")
      parts.mkString("{", ",", "}")
    }
  }

  def processCpuS: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Peak resident set of this JVM, in MB (Linux `VmHWM`). */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally walk.close()
    }

  private val born = System.nanoTime()

  /** A progress line in the JVM's log. */
  def note(msg: String): Unit =
    println(f"[harness ${(System.nanoTime() - born) / 1e9}%8.2f s] $msg")

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = Paths.get(opt("work"))
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val workload: Workload = opt("workload") match {
      case "etl_anchor" => new EtlAnchor(opt("inputs"), work)
      case "operators_mix" => new Mix("operators_mix", Seq(
        new CatalogMix(s"${opt("inputs")}/catalog", opt("seed").toLong),
        new CorpusPrep(s"${opt("inputs")}/corpus")))
      case w => sys.error(s"unknown workload $w")
    }
    val res = new Result

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${workload.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    workload.session.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      note("session up")
      workload.setup(spark)
      note("inputs loaded")
      // Code generation and JIT warm over passes: the warm-up and one more
      // untimed pass of the timed plans come before the first timed pass.
      workload.warmUp(spark, res, work.resolve("check"))
      System.gc()
      workload.pass(spark, res)
      workload.afterPass(spark, res)
      res.nums("setup_end_epoch_s") = System.currentTimeMillis() / 1e3
      note("warm-up done")

      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < seconds) {
        System.gc() // frees dead shuffle state between passes
        val c0 = processCpuS
        val p0 = System.nanoTime()
        val parts = workload.pass(spark, res)
        res.sample("wall_s", (System.nanoTime() - p0) / 1e9)
        res.sample("cpu_s", processCpuS - c0)
        parts.foreach { case (k, v) => res.sample(k, v) }
        workload.afterPass(spark, res)
        note(f"timed pass ${res.lists("wall_s").last}%.3f s")
      }

      if (trace) {
        val runId = java.util.UUID.randomUUID().toString
        val tr = new Trace(spark, runId)
        // The listener alone: the workload's own pass with counters on,
        // twice, so the counters a plan fixes can be compared.
        val listened = (1 to 2).map { k =>
          tr.resetCounters()
          System.gc()
          val p0 = System.nanoTime()
          tr.span("pass", s"${workload.name}.listener$k")(
            workload.pass(spark, res))
          val wall = (System.nanoTime() - p0) / 1e9
          workload.afterPass(spark, res)
          (wall, tr.of("pass"), tr.cachedPeak)
        }
        res.check("listener counters repeat") {
          val Seq(x, y) = listened.map(_._2.planFixed)
          if (x == y) Nil else Seq(s"jobs/stages/tasks: $x vs $y")
        }
        val (wall, eng, cachedPeak) = listened.head
        val walls = res.lists("wall_s").sorted
        val untraced = walls(walls.size / 2)
        val layer = mutable.LinkedHashMap[String, Double](
          "spark.jobs" -> eng.jobs.toDouble,
          "spark.stages" -> eng.stages.toDouble,
          "spark.tasks" -> eng.tasks.toDouble,
          "spark.exec_run_s" -> eng.execRunS,
          "spark.exec_cpu_s" -> eng.execCpuS,
          "spark.gc_s" -> eng.gcMs / 1e3,
          "spark.shuffle_write_bytes" -> eng.shuffleWrite.toDouble,
          "spark.spill_bytes" -> eng.spill.toDouble,
          "spark.cached_bytes_peak" -> cachedPeak.toDouble,
          "spark.core_busy" -> eng.execRunS / (wall * cores),
          "trace.overhead" -> wall / untraced)
        // Two traced passes of the layer spans; counters a plan fixes must
        // repeat exactly, times are averaged.
        val runs = (1 to 2).map { k =>
          tr.resetCounters()
          System.gc()
          workload.traced(spark, tr, s"${workload.name}.traced$k", res)
        }
        val (a, b) = (runs(0), runs(1))
        res.check("traced counters repeat") {
          a.exact.keys.toSeq.sorted.flatMap { k =>
            val (x, y) = (a.exact(k), b.exact.get(k))
            if (y.contains(x)) None else Some(s"$k: $x vs ${y.getOrElse("-")}")
          }
        }
        a.exact.foreach { case (k, v) => layer(k) = v }
        a.timed.foreach { case (k, v) =>
          layer(k) = (v + b.timed.getOrElse(k, v)) / 2
        }
        a.overlap.foreach { case (k, spans) =>
          layer(k) = spans.map(s => layer(s"$s.s")).sum / untraced
        }
        layer.foreach { case (k, v) => res.nums(s"layer:$k") = v }
        tr.detach()
        Files.createDirectories(work.resolve("traces"))
        tr.writeSpans(work.resolve("traces").resolve(s"$runId.jsonl").toString)
      }
    } catch {
      case e: Throwable =>
        res.failures += s"run aborted: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(500)
        res.attempted += 1
    } finally {
      res.nums("peak_rss_mb") = peakRssMb
      Files.writeString(Paths.get(opt("out")), res.json)
      spark.stop()
    }
  }
}

/** Per-layer values of one traced pass: values a plan fixes, which must
  * repeat exactly in the next traced pass (`exact`); values that vary,
  * averaged over the two (`timed`); and ratios of summed span times to the
  * untraced pass wall time (`overlap`: metric name -> span names).
  */
final class Layers {
  val exact = mutable.LinkedHashMap[String, Double]()
  val timed = mutable.LinkedHashMap[String, Double]()
  val overlap = mutable.LinkedHashMap[String, Seq[String]]()

  /** Records a span's time and counters. Stages and tasks are only
    * compared, not reported.
    */
  def put(name: String, seconds: Double, c: Counters): Unit = {
    timed(s"$name.s") = seconds
    timed(s"$name.exec_cpu_s") = c.execCpuS
    timed(s"$name.shuffle_write_bytes") = c.shuffleWrite.toDouble
    exact(s"$name.jobs") = c.jobs.toDouble
    exact(s"$name.stages") = c.stages.toDouble
    exact(s"$name.tasks") = c.tasks.toDouble
  }
}

trait Workload {
  def name: String
  def session: Map[String, String]
  def setup(spark: SparkSession): Unit = ()
  /** The untimed pass before the timed ones; may write results to check. */
  def warmUp(spark: SparkSession, res: Main.Result, checkDir: Path): Unit
  /** One timed pass; returns extra per-pass samples. */
  def pass(spark: SparkSession, res: Main.Result): Seq[(String, Double)]
  /** Work after a timed pass that is not timed: checks and clean-up. */
  def afterPass(spark: SparkSession, res: Main.Result): Unit = ()
  def traced(spark: SparkSession, tr: Trace, parent: String,
      res: Main.Result): Layers
}

/** Several workloads run as one: every hook runs each part in turn. */
final class Mix(val name: String, parts: Seq[Workload]) extends Workload {
  val session: Map[String, String] = parts.map(_.session).reduce(_ ++ _)

  override def setup(spark: SparkSession): Unit = parts.foreach(_.setup(spark))

  def warmUp(spark: SparkSession, res: Main.Result, checkDir: Path): Unit =
    parts.foreach(_.warmUp(spark, res, checkDir))

  def pass(spark: SparkSession, res: Main.Result): Seq[(String, Double)] =
    parts.flatMap(_.pass(spark, res))

  override def afterPass(spark: SparkSession, res: Main.Result): Unit =
    parts.foreach(_.afterPass(spark, res))

  def traced(spark: SparkSession, tr: Trace, parent: String,
      res: Main.Result): Layers = {
    val all = new Layers
    parts.foreach { p =>
      val l = p.traced(spark, tr, s"$parent/${p.name}", res)
      all.exact ++= l.exact; all.timed ++= l.timed; all.overlap ++= l.overlap
    }
    all
  }
}
