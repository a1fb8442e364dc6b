package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.commons.io.FileUtils

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `analytics`: the 27 `SparkEntry.benchQueries`, one sequential client.
  * Set-up ends with a check pass that runs every query once (warming the
  * JIT and codegen) and writes its answer as parquet, for run.py to
  * compare with the DuckDB oracle. The timed steady passes then run every
  * query into a noop sink, as `graft.Bench` does. The one query without
  * oracle SQL has its check-pass answer fingerprinted, and one untimed run
  * after the steady passes must give the same fingerprint. */
object Analytics {
  /** Registry that defines each query = the package its layer metrics
    * are keyed by. */
  val packages: Seq[(String, Set[String])] = graft.PerfbenchAccess.packages

  /** Packages that define at least one bench query (the layer metrics). */
  val benchPackages: Seq[String] =
    packages.filter(_._2.exists(SparkEntry.benchQueries.contains)).map(_._1)

  def packageOf(q: String): String = packages.find(_._2(q)).get._1

  /** Row count and order-insensitive hash of a result, in one action. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val h = xxhash64(df.columns.toSeq.map(c => df.col(s"`$c`")): _*)
    val r = df.select((h.bitwiseAND(0xFFFFFFFFL)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Drop what a query left pinned (cached plans, checkpoint blocks), as
    * `graft.Bench` does between queries; outside every timing. */
  def cleanup(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def run(spark: SparkSession, o: Opts, tr: Option[Tracer]): Result = {
    val queries = SparkEntry.benchQueries
    var attempted = 0L
    var failed = 0L
    def attempt[T](q: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] $q failed: $e")
          None
      }
    }

    // set-up: the check pass, the same on every seed
    val answers = o.work.resolve("answers")
    FileUtils.deleteDirectory(answers.toFile)
    Files.createDirectories(answers)
    val expected = queries.flatMap { q =>
      val got = attempt(q) {
        val path = answers.resolve(q).toString
        SparkEntry.queries(q)(spark, o.data).write.parquet(path)
        if (SparkEntry.oracleSql.contains(q)) None
        else Some(q -> fingerprint(spark.read.parquet(path)))
      }
      cleanup(spark)
      got.flatten
    }.toMap
    Files.writeString(answers.resolve("oracle_sql.json"),
      queries.filter(SparkEntry.oracleSql.contains)
        .map(q => Json.str(q) + ":" + Json.str(SparkEntry.oracleSql(q)))
        .mkString("{", ",\n", "}"))
    val setupS = Main.setupSeconds()

    // measured: steady passes, one sequential client, at least one
    def noop(q: String): Unit =
      SparkEntry.queries(q)(spark, o.data).write.format("noop").mode("overwrite").save()
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[String]] // span ids
    Jvm.collect()
    val gc0 = Jvm.gcMs
    val w0 = System.currentTimeMillis()
    while (passes.isEmpty || (System.currentTimeMillis() - w0) / 1e3 < o.seconds) {
      val pass = "pass" + passes.size
      val p0 = System.currentTimeMillis()
      passes += queries.map { q =>
        val t0 = System.nanoTime()
        attempt(q) {
          tr match {
            case Some(t) =>
              val (_, sp) = t.span(q, "entry", parent = pass)(noop(q))
              perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += sp.id
            case None => noop(q)
          }
        }
        val dt = (System.nanoTime() - t0) / 1e9
        cleanup(spark)
        q -> dt
      }.toMap
      tr.foreach(_.record(pass, "entry", p0, System.currentTimeMillis(), id = pass))
    }
    val windowS = (System.currentTimeMillis() - w0) / 1e3
    val gcS = (Jvm.gcMs - gc0) / 1e3
    val retained = Jvm.retainedHeapMb()

    // untimed: a query without oracle SQL must answer as in the check pass
    expected.foreach { case (q, want) =>
      attempt(q)(fingerprint(SparkEntry.queries(q)(spark, o.data))).filter(_ != want).foreach { got =>
        failed += 1
        System.err.println(s"[perfbench] $q answer $got differs from the check pass $want")
      }
      cleanup(spark)
    }

    // a query's latency is its median over the passes
    val perQ = queries.map(q => q -> Stats.median(passes.map(_(q)).toSeq))
    val lat = perQ.map(_._2 * 1e3)
    val e2e = Map(
      "setup_s" -> setupS,
      "wall_s" -> Stats.median(passes.map(_.values.sum).toSeq),
      "latency_p50_ms" -> Stats.median(lat),
      "latency_p90_ms" -> Stats.quantile(lat, 0.9),
      "throughput_ops_s" -> passes.map(_.size).sum / windowS,
      "heap_retained_mb" -> retained) ++ perQ.map { case (q, s) => s"query.$q.s" -> s }

    val layers = tr.fold(Map.empty[String, Double]) { t =>
      t.drain()
      val n = passes.size.toDouble
      val window = t.jobsIn(w0, w0 + (windowS * 1e3).toLong)
      val pkg = benchPackages.flatMap { p =>
        val qs = queries.filter(packageOf(_) == p)
        val a = t.agg(qs.flatMap(q => perQuery.getOrElse(q, Nil)).flatMap(t.jobsOfSpan))
        Seq(s"$p.wall_s" -> qs.map(q => perQ.toMap.apply(q)).sum,
          s"$p.jobs" -> a.jobs / n, s"$p.task_cpu_s" -> a.taskCpuS / n,
          s"$p.shuffle_mb" -> a.shuffleMb / n)
      }
      Layers.spark(t.agg(window), windowS, n, o.cores, gcS) ++ pkg ++
        perQ.map { case (q, s) => s"$q.wall_s" -> s }
    }
    Result(attempted, failed, failed == 0, e2e, layers)
  }
}

/** Spark-substrate metrics over a measured window, per unit of work (a
  * pass, a request or a micro-batch). */
object Layers {
  def spark(a: JobAgg, windowS: Double, units: Double, cores: Int,
      gcS: Double): Map[String, Double] = Map(
    "spark.jobs" -> a.jobs / units,
    "spark.job_wall_s" -> a.jobWallS / units,
    "spark.driver_gap_s" -> math.max(0.0, windowS - a.busyS) / units,
    "spark.task_run_s" -> a.taskRunS / units,
    "spark.task_cpu_s" -> a.taskCpuS / units,
    "spark.core_util" -> a.taskRunS / (windowS * cores),
    "spark.shuffle_read_mb" -> a.shuffleReadMb / units,
    "spark.shuffle_write_mb" -> a.shuffleWriteMb / units,
    "spark.spill_mb" -> a.spillMb / units,
    "spark.max_task_ratio" -> a.maxTaskRatio,
    "spark.gc_s" -> gcS / units)
}
