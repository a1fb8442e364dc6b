package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.convert.{Converters, Iri}
import graft.enrich.Enrichers
import graft.rdf.{Quad, QuadStore, Sparql, SparqlEndpoint}
import graft.sources.FileIngest
import graft.streaming.QuadPipeline

/** `live`: the deployed shape. Seeded mail / contact / calendar drops flow
  * through `FileIngest.streamScan → toQuads`, with location-history quads,
  * into `QuadPipeline.run` and the reference enricher chain
  * `ifpSameAs → stays → eventStayLinks`; every stored micro-batch is
  * published to a `SparqlEndpoint` through `onStore → refresh`. One reader
  * client runs throughout, in a closed loop without think time: it polls
  * for the pending drop's marker message (freshness) and reads the store.
  * Drops land one at a time, each as soon as the previous one is visible;
  * before each drop the reader writes back once through SPARQL UPDATE. */
object Live {
  private val S = Converters.schemaOrg
  private val chain = Seq(
    "ifp" -> Enrichers.ifpSameAs(S + "email"),
    "stays" -> Enrichers.stays(),
    "event_stay" -> Enrichers.eventStayLinks(S))
  private val enricherGraph =
    Map("ifp" -> "graft:ifp", "stays" -> "graft:stays", "event_stay" -> "graft:eventStay")

  final case class Drop(k: Int, dir: Path, marker: String, messages: Seq[String],
      locations: Int, day: String)

  def manifest(dir: String): Seq[Drop] = {
    val m = new ObjectMapper().readTree(Path.of(dir, "manifest.json").toFile)
    m.path("drops").elements().asScala.zipWithIndex.map { case (d, k) =>
      Drop(k, Path.of(dir, k.toString), Iri.mid(d.path("marker").asText()),
        d.path("messages").elements().asScala.map(x => Iri.mid(x.asText())).toSeq,
        d.path("locations").asInt(), d.path("day").asText())
    }.toSeq
  }

  private val locSchema = StructType(Seq(StructField("locations", ArrayType(StructType(Seq(
    StructField("timestampMs", StringType), StructField("latitudeE7", LongType),
    StructField("longitudeE7", LongType), StructField("accuracy", LongType)))))))

  /** Land a drop: its files are copied to a staging directory, which one
    * rename moves into the watched directory, so a micro-batch sees all of
    * a drop or none of it. Returns the nanoTime of landing. */
  private def land(d: Drop, staging: Path, watched: Path): Long = {
    val tmp = staging.resolve(s"drop-${d.k}")
    Seq("mail", "loc").foreach(sub => FileUtils.copyDirectory(d.dir.resolve(sub).toFile, tmp.toFile))
    val t0 = System.nanoTime()
    Files.move(tmp, watched.resolve(tmp.getFileName), StandardCopyOption.ATOMIC_MOVE)
    t0
  }

  /** What publishing one store version wrote: partitions rewritten, bytes
    * written, and bytes of the partitions the batch created. */
  final case class Swap(rewritten: Int, bytesWritten: Long, newBytes: Long)

  /** Files per `g=` partition (name → size) of the store on disk. */
  private def listing(store: Path): Map[String, Map[String, Long]] =
    if (!Files.isDirectory(store)) Map.empty
    else Files.list(store).iterator().asScala.filter(_.getFileName.toString.startsWith("g="))
      .map { g =>
        g.getFileName.toString -> Files.list(g).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(f => f.getFileName.toString -> Files.size(f)).toMap
      }.toMap

  def run(spark: SparkSession, o: Opts, tr: Option[Tracer]): Result = {
    val drops = manifest(o.data)
    val live = o.work.resolve("live")
    FileUtils.deleteDirectory(live.toFile)
    val Seq(staging, watched, store) = Seq("staging", "watched", "store").map(live.resolve)
    Seq(staging, watched).foreach(Files.createDirectories(_))

    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Quad.schema)
    val server = SparqlEndpoint.start(empty)
    val swaps = new ConcurrentLinkedQueue[Swap]()
    val version = new AtomicLong()
    var lastListing = Map.empty[String, Map[String, Long]]
    val onStore = (df: DataFrame) => {
      server.refresh(df)
      val now = listing(store)
      val changed = now.filter { case (g, fs) => lastListing.get(g).forall(_ != fs) }
      val created = changed.keySet -- lastListing.keySet
      val written = changed.map { case (g, fs) =>
        fs.filter { case (f, _) => !lastListing.getOrElse(g, Map.empty).contains(f) }.values.sum
      }.sum
      version.incrementAndGet()
      swaps.add(Swap((changed.keySet -- created).size, written,
        created.toSeq.map(now(_).values.sum).sum))
      lastListing = now
    }
    // one file source for the whole drop: the converters take its mail,
    // contact and calendar files, locationHistory its Takeout JSON
    val raw = FileIngest.streamScan(spark, watched.toString)
    val docs = FileIngest.toQuads(raw).toDF()
    val locs = Converters.locationHistory(spark,
      raw.where(col("path").endsWith(".json"))
        .select(from_json(col("content"), locSchema).as("j")).select("j.*"))
    val query = QuadPipeline.run(spark, docs.unionByName(locs), store.toString, empty,
        chain.map(_._2), triggerMs = 100, onStore = onStore)
      .option("checkpointLocation", live.resolve("checkpoint").toString)
      .start()

    val reader = new Reader(server.port, version)
    var landedMessages = 0
    try {
      // set-up ends once the reader's own path is warm
      reader.start()
      reader.awaitWarm()
      Jvm.collect()
      val setupS = Main.setupSeconds()

      // measured: one drop at a time, each landing when the last is
      // visible, with a write-back before each; the first drop meets a
      // cold pipeline (a warm one would double the run, see README.md)
      val freshness = mutable.ArrayBuffer.empty[Double]
      val gc0 = Jvm.gcMs
      val w0 = System.currentTimeMillis()
      val deadline = w0 + (o.seconds * 1e3).toLong
      var next = 0
      var visibleOk = true
      reader.measuring = true
      while (visibleOk && next < drops.size &&
          (freshness.isEmpty || System.currentTimeMillis() < deadline)) {
        reader.writeBack(next)
        val d = drops(next)
        landedMessages += d.messages.size
        reader.expect(d, landedMessages)
        val t0 = land(d, staging, watched)
        visibleOk = reader.awaitVisible(d)
        if (visibleOk) freshness += (System.nanoTime() - t0) / 1e9
        next += 1
      }
      reader.measuring = false
      val windowS = (System.currentTimeMillis() - w0) / 1e3
      val gcS = (Jvm.gcMs - gc0) / 1e3
      reader.stop()
      val retained = Jvm.retainedHeapMb()
      reader.checkWriteBacks()
      query.processAllAvailable()
      query.stop()

      // the store must hold exactly what the generator dropped
      val landed = drops.take(next)
      val stored = QuadStore.read(spark, store.toString).localCheckpoint()
      val storeOk = checkStore(spark, stored, landed)
      val reads = reader.reads.asScala.toSeq.filter(_.measured)
      val lat = reads.map(_.ms)
      if (freshness.isEmpty) freshness += Double.NaN
      val docQuads = stored.where(!col("g").startsWith("graft:"))
      val e2e = Map(
        "setup_s" -> setupS,
        "wall_s" -> Stats.median(freshness.toSeq),
        "latency_p50_ms" -> Stats.median(lat),
        "latency_p90_ms" -> Stats.quantile(lat, 0.9),
        "throughput_ops_s" -> reads.size / windowS,
        "heap_retained_mb" -> retained,
        // receipt only: lost write-backs are a known engine defect, kept
        // out of `failed` (see README.md, "Write-back durability")
        "writebacks_checked" -> reader.checkedWriteBacks.get().toDouble,
        "writebacks_lost" -> reader.lost.get().toDouble)
      val layers = tr.fold(Map.empty[String, Double]) { t =>
        t.drain()
        val batches = progress.progress.asScala.toSeq
        val batchJobs = batches.map(b => t.jobsWhere(_.batch == b.batchId.toString).size)
        batches.foreach { b =>
          val start = java.time.Instant.parse(b.timestamp).toEpochMilli
          t.record("batch " + b.batchId, "streaming", start,
            start + b.durationMs.getOrDefault("triggerExecution", 0L), id = "batch" + b.batchId)
        }
        def dur(k: String) = Stats.median(batches.map(_.durationMs.getOrDefault(k, 0L).toDouble))
        val window = t.agg(t.jobsIn(w0, w0 + (windowS * 1e3).toLong))
        val perReq = reads.map { r =>
          val js = t.jobsIn(r.reply.start, r.reply.end).filter(_.batch == null)
          t.adopt(t.record("read", "rdf", r.reply.start, r.reply.end), js)
          Rdf.Request(t.agg(js), r.reply, r.rows)
        }
        val postSwap = reads.filter(_.firstAfterSwap).map(_.ms)
        Layers.spark(window, windowS, math.max(1, freshness.size), o.cores, gcS) ++
          Rdf.requestLayers(perReq, compileMs(server.store, landed.last)) ++ Map(
            "rdf.post_swap_read_ms" -> (if (postSwap.isEmpty) 0.0 else Stats.median(postSwap)),
            "rdf.update_ack_ms" -> reader.updateAckMs,
            "rdf.store_partitions" -> Rdf.partitions(store.toString).toDouble,
            "rdf.partitions_rewritten_per_batch" ->
              swaps.asScala.map(_.rewritten).sum.toDouble / math.max(1, swaps.size),
            "rdf.write_amplification" ->
              swaps.asScala.map(_.bytesWritten).sum.toDouble /
                math.max(1L, swaps.asScala.map(_.newBytes).sum),
            "streaming.batch_ms" -> dur("triggerExecution"),
            "streaming.add_batch_ms" -> dur("addBatch"),
            "streaming.planning_ms" -> dur("queryPlanning"),
            "streaming.get_batch_ms" -> dur("getBatch"),
            "streaming.wal_commit_ms" -> dur("walCommit"),
            "streaming.input_rows" -> Stats.median(batches.map(_.numInputRows.toDouble)),
            "streaming.state_rows" -> batches.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble,
            "streaming.jobs_per_batch" -> Stats.median(batchJobs.map(_.toDouble)),
            "live.ingest_quads_s" -> docQuads.count() / freshness.sum,
            "live.writebacks_lost" -> reader.lost.get().toDouble) ++
          Probes.convert(spark, landed) ++ Probes.enrich(spark, landed, chain, enricherGraph)
      }
      Result(reader.attempted.get() + 1, reader.failed.get() + (if (storeOk) 0 else 1),
        reader.failed.get() == 0 && storeOk && visibleOk, e2e, layers)
    } finally {
      reader.stop()
      if (query.isActive) query.stop()
      server.stop()
    }
  }

  /** Median time of the `Sparql` calls behind the reader's two reads. */
  def compileMs(store: DataFrame, d: Drop): Double =
    Stats.median((1 to 3).flatMap { _ =>
      def ms(body: => Any): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
      }
      Seq(ms(Sparql.ask(store, s"ASK { <${d.marker}> ?p ?o }")),
        ms(Sparql.select(store, s"SELECT (COUNT(?m) AS ?n) WHERE { ?m a <${S}EmailMessage> }")))
    })

  /** Every landed drop's messages and location points are in the store. */
  def checkStore(spark: SparkSession, stored: DataFrame, landed: Seq[Drop]): Boolean = {
    import spark.implicits._
    val msgs = stored.where(col("p") === "rdf:type" && col("o") === (S + "EmailMessage"))
      .select("s").as[String].collect().toSet
    val locs = stored.where(col("p") === "rdf:type" && col("o") === "personal:Location")
      .groupBy("g").count().as[(String, Long)].collect().toMap
    val ok = landed.forall { d =>
      d.messages.forall(msgs) && locs.get("doc:location:" + d.day).contains(d.locations.toLong)
    } && msgs.size == landed.map(_.messages.size).sum
    if (!ok) System.err.println(s"[perfbench] store holds ${msgs.size} messages and " +
      s"location graphs $locs for ${landed.size} drops")
    ok
  }

  /** One read the reader made. */
  final case class Read(reply: Reply, rows: Int, firstAfterSwap: Boolean, measured: Boolean) {
    def ms: Double = reply.ms
  }

  /** The single reader client. It cycles without pause: poll the pending
    * drop's marker, count the messages (checked against what has landed
    * and what is visible), re-check write-backs, and write back when
    * asked. */
  final class Reader(port: Int, version: AtomicLong) {
    private val VisibleWithinS = 120L
    private val c = new SparqlClient(port)
    val reads = new ConcurrentLinkedQueue[Read]()
    val attempted = new AtomicLong()
    val failed = new AtomicLong()
    val lost = new AtomicLong()
    val checkedWriteBacks = new AtomicLong()
    @volatile var measuring = false
    @volatile private var running = true
    private val pending = new AtomicReference[(Drop, Int, CountDownLatch)]()
    private val visibleMessages = new AtomicLong()
    private val writeBackAsked = new AtomicReference[(Int, CountDownLatch)]()
    // write-backs acknowledged and read back, with the version they were made on
    private val outstanding = mutable.ArrayBuffer.empty[(Int, Long)]
    private val acks = new ConcurrentLinkedQueue[Double]()
    private var lastVersion = 0L
    private val thread = new Thread(() => loop(), "perfbench-reader")

    private val warmCycles = new CountDownLatch(2)
    def awaitWarm(): Unit = warmCycles.await(VisibleWithinS, TimeUnit.SECONDS)

    def start(): Unit = thread.start()
    def stop(): Unit = { running = false; thread.join() }

    def expect(d: Drop, landed: Int): Unit =
      pending.set((d, landed, new CountDownLatch(1)))

    def awaitVisible(d: Drop): Boolean = {
      val ok = pending.get()._3.await(VisibleWithinS, TimeUnit.SECONDS)
      if (!ok) {
        failed.incrementAndGet()
        System.err.println(s"[perfbench] drop ${d.k} not visible after $VisibleWithinS s")
      }
      ok
    }

    /** Have the reader write back `k`; returns once it is acknowledged and
      * read back. */
    def writeBack(k: Int): Unit = {
      val done = new CountDownLatch(1)
      writeBackAsked.set((k, done))
      if (!done.await(VisibleWithinS, TimeUnit.SECONDS)) {
        failed.incrementAndGet()
        System.err.println(s"[perfbench] write-back $k not acknowledged after $VisibleWithinS s")
      }
    }

    def updateAckMs: Double = if (acks.isEmpty) 0.0 else Stats.median(acks.asScala.toSeq)

    private def read(q: String): Reply = {
      val v = version.get()
      val r = c.query(q)
      attempted.incrementAndGet()
      val first = v != lastVersion
      lastVersion = v
      reads.add(Read(r, 1, first, measuring))
      if (r.status != 200) failed.incrementAndGet()
      r
    }

    private def wbText(k: Int) = s"""<urn:perfbench:wb:$k> <personal:note> "write-back $k""""

    private def loop(): Unit = while (running) {
      try cycle()
      catch {
        case e: Exception =>
          failed.incrementAndGet()
          System.err.println(s"[perfbench] reader: $e")
      }
      warmCycles.countDown()
    }

    private def cycle(): Unit = {
      val p = pending.get()
      if (p != null && p._3.getCount > 0) {
        val (d, landed, latch) = p
        val r = read(s"ASK { <${d.marker}> ?p ?o }")
        if (r.status == 200 && c.boolean(r)) {
          visibleMessages.set(landed)
          latch.countDown()
        }
      }
      // message count: at least what is known visible, at most what landed
      val n = read(s"SELECT (COUNT(?m) AS ?n) WHERE { ?m a <${S}EmailMessage> }")
      if (n.status == 200) {
        val got = scala.util.Try(c.rows(n).head("n").toLong).getOrElse(-1L)
        val hi = Option(pending.get()).map(_._2.toLong).getOrElse(0L)
        if (got < visibleMessages.get() || got > hi) {
          failed.incrementAndGet()
          System.err.println(s"[perfbench] message count $got outside [${visibleMessages.get()}, $hi]")
        }
      }
      checkWriteBacks()
      Option(writeBackAsked.getAndSet(null)).foreach { case (k, done) =>
        try {
          attempted.incrementAndGet()
          val v = version.get()
          val u = c.update(s"INSERT DATA { ${wbText(k)} }")
          acks.add(u.ms)
          val back = read(s"ASK { ${wbText(k)} }")
          if (u.status != 200 || !(back.status == 200 && c.boolean(back))) {
            failed.incrementAndGet()
            System.err.println(s"[perfbench] write-back $k not readable after its acknowledgement")
          } else outstanding += ((k, v))
        } finally done.countDown()
      }
    }

    /** Durability: a write-back acknowledged on store version v must still
      * be readable on every later version. */
    def checkWriteBacks(): Unit = {
      val now = version.get()
      outstanding.filter(_._2 < now).foreach { case (k, _) =>
        val r = read(s"ASK { ${wbText(k)} }")
        checkedWriteBacks.incrementAndGet()
        if (!(r.status == 200 && c.boolean(r))) lost.incrementAndGet()
      }
      outstanding.filterInPlace(_._2 >= now)
    }
  }
}

/** Traced-only probes of single layers on the drops that landed. */
object Probes {
  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private def batch(spark: SparkSession, landed: Seq[Live.Drop]): (DataFrame, Long) = {
    val docs = landed.flatMap(d => Files.list(d.dir.resolve("mail")).iterator().asScala)
    val raw = spark.createDataset(docs.map(p =>
      FileIngest.RawDoc(p.toString, Files.readString(p))))(
      org.apache.spark.sql.Encoders.product[FileIngest.RawDoc])
    (FileIngest.toQuads(raw).toDF(), docs.size.toLong)
  }

  /** Converter throughput over the landed drops' files. */
  def convert(spark: SparkSession, landed: Seq[Live.Drop]): Map[String, Double] = {
    val (quads, docs) = batch(spark, landed)
    quads.count() // warm
    val (n, s) = time(batch(spark, landed)._1.count())
    Map("convert.docs_s" -> docs / s, "convert.quads_per_doc" -> n.toDouble / docs)
  }

  /** Ablation over prefixes of the chain on one batch of the landed drops:
    * marginal seconds of each enricher and the quads it added. */
  def enrich(spark: SparkSession, landed: Seq[Live.Drop],
      chain: Seq[(String, QuadPipeline.Enricher)], graphs: Map[String, String]): Map[String, Double] = {
    val locs = Converters.locationHistory(spark, spark.read.option("multiLine", "true")
      .json(landed.map(_.dir.resolve("loc").toString): _*))
    val input = batch(spark, landed)._1.unionByName(locs).localCheckpoint()
    val empty = input.limit(0)
    val costs = (0 to chain.size).map { n =>
      time {
        val (store, _) = QuadPipeline.processBatch(empty, input, empty, chain.take(n).map(_._2))
        store.localCheckpoint()
      }
    }
    val full = costs.last._1
    import spark.implicits._
    val out = full.groupBy("g").count().as[(String, Long)].collect().toMap
    chain.indices.flatMap { i =>
      val name = chain(i)._1
      Seq(s"enrich.$name.marginal_s" -> (costs(i + 1)._2 - costs(i)._2),
        s"enrich.$name.quads_out" -> out.getOrElse(graphs(name), 0L).toDouble)
    }.toMap
  }
}
