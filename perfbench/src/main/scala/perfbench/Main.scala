package perfbench

import java.nio.file.{Path, Paths}

import graft.GraftSession

/** Command line of one benchmark process (see perfbench/README.md). */
final case class Opts(workload: String, seconds: Double, trace: Boolean,
    seed: Long, data: String, work: Path, smoke: Boolean) {
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())
}

/** What a workload hands back: the contract's counts, its end-to-end
  * metrics (untraced and traced runs alike) and, on traced runs, the
  * per-layer metrics. */
final case class Result(attempted: Long, failed: Long, correct: Boolean,
    e2e: Map[String, Double], layers: Map[String, Double] = Map.empty)

object Main {
  /** Epoch ms of JVM start: set-up time counts from here. */
  val jvmStart: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def setupSeconds(): Double = (System.currentTimeMillis() - jvmStart) / 1e3

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seconds").toDouble, kv("trace") == "1",
      kv("seed").toLong, kv("data"), Paths.get(kv("work")), kv.get("smoke").contains("1"))
    val spark = GraftSession.builder("perfbench-" + o.workload)
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val codegen0 = Jvm.codegen
    val r =
      try o.workload match {
        case "analytics" => Analytics.run(spark, o, tracer)
        case "live" => Live.run(spark, o, tracer)
        case w => sys.error(s"unknown workload $w")
      } finally {
        // q207 persists its index under the engine's fixture root, outside
        // the checkout: leave nothing of this process there
        org.apache.commons.io.FileUtils.deleteDirectory(
          graft.PerfbenchAccess.fixtureDir(o.data).getParentFile)
      }
    val e2e = r.e2e + ("peak_rss_mb" -> Jvm.peakRssMb)
    val layers = tracer.fold(Map.empty[String, Double]) { tr =>
      tr.drain()
      val (n, ms) = Jvm.codegen
      // figures too noisy run to run to bound (see README.md) are reported
      // per layer, and in every receipt
      val all = r.layers ++ Map(
        "spark.codegen_compiles" -> (n - codegen0._1).toDouble,
        "spark.codegen_ms" -> (ms - codegen0._2),
        "trace.listener_s" -> tr.selfNanos.sum() / 1e9,
        "op.latency_p50_ms" -> e2e("latency_p50_ms"),
        "op.latency_p90_ms" -> e2e("latency_p90_ms"),
        "jvm.peak_rss_mb" -> e2e("peak_rss_mb"),
        "jvm.heap_retained_mb" -> e2e("heap_retained_mb"))
      tr.writeTree(o.work.resolve("trace").resolve(s"${o.workload}-${o.seed}.json"), o.workload, all)
      all
    }
    // one tagged line; run.py turns it into the contract's result line
    println(s"""PERFBENCH {"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""correct":${r.correct},"metrics":${Json.obj(e2e.toSeq.sortBy(_._1))},""" +
      s""""layers":${Json.obj(layers.toSeq.sortBy(_._1))}}""")
    spark.stop()
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => str(k) + ":" + num(v) }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
