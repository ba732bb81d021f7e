package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.state.GraftStateStoreAccess
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.tools.BenchSession
import graft.util.Tmp

/** One benchmark run inside the program's JVM (launched by run.py, which
  * reads `<run-dir>/result.json` once the JVM exits).
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      runDir: String, launchMs: Long, scale: Double, injectDup: Boolean)

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("run-dir"), kv("launch-ms").toLong, kv.get("scale").map(_.toDouble).getOrElse(1.0),
      kv.get("inject-dup").contains("1"))
    val result = new Run(a, Shape.of(a.workload, a.scale)).execute(mainMs)
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(Paths.get(a.runDir, "result.json").toFile, result.asJava)
    sys.exit(0)
  }
}

/** What one drain saw. */
final case class Drain(turns: Long, wallS: Double, latenciesMs: Vector[Double],
    watermarkMs: Long, outDir: String, queryId: String, batches: Int, commits: Int) {
  def turnsPerSec: Double = turns / wallS
}

final class Run(a: Main.Args, shape: Shape) {
  import Tracer.{median, percentile}

  private val SetupReps = 3
  private val MinDrains = 2
  private val BlobRows = 50000L
  private val dir = a.runDir
  private val in = s"$dir/staged"
  private var spark: SparkSession = _
  private var seq = 0
  private val checks = Vector.newBuilder[CheckResult]
  /** Oracle fingerprint per final watermark, shared by all drains. */
  private val expected = scala.collection.mutable.Map.empty[Long, Oracle.Fingerprint]

  private def fresh(name: String): String = { seq += 1; s"$dir/$name-$seq" }

  private var lastStep = System.nanoTime()
  /** Progress note on stderr: which step finished and how long it took. */
  private def step(name: String): Unit = {
    val now = System.nanoTime()
    System.err.println(f"[perfbench] $name%s took ${(now - lastStep) / 1e9}%.2f s")
    lastStep = now
  }

  private def session(cores: Int): SparkSession = {
    if (spark != null) spark.stop()
    spark = BenchSession.build(cores)
    // keep every progress event of a drain (Spark keeps 100 by default)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    spark
  }

  def execute(mainMs: Long): Map[String, Any] = {
    // -- gen: stage the corpus (not timed, not part of set-up) -----------
    val (files, rows) = Stage.write(session(4), in, a.seed, shape)
    // the warm-up input: a copy of the corpus's first file
    Files.createDirectories(Paths.get(dir, "warm"))
    Files.copy(Paths.get(in, files.head), Paths.get(dir, "warm", files.head),
      StandardCopyOption.COPY_ATTRIBUTES)
    resetPeakRss()
    step("staging")

    // -- set-up, several times: session build + query start + warm-up ----
    val setups = (1 to SetupReps).map { _ =>
      val t = System.nanoTime()
      val s = session(4)
      Tmp.delete(drain(s, s"$dir/warm", shape, Vector.empty).outDir)
      (System.nanoTime() - t) / 1e9
    }
    val setupS = (mainMs - a.launchMs) / 1000.0 + median(setups)
    step("set-up")

    // -- measured phase, untraced ------------------------------------------
    val base = drains(files)
    val peakRssMb = peakRssKb() / 1024.0
    step("measured phase")
    checkAll(base)
    step("output check")

    // -- traced phase -------------------------------------------------------
    val traced: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val tracer = new Tracer
        spark.sparkContext.addSparkListener(tracer)
        spark.streams.addListener(tracer.queryListener)
        val gc0 = gcMs()
        val t = drains(files)
        val gc = gcMs() - gc0
        val ids = t.map(_.queryId).toSet
        val deadline = System.currentTimeMillis() + 15000
        while (!tracer.settled(ids, t.map(_.batches).sum) && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        spark.sparkContext.removeSparkListener(tracer)
        spark.streams.removeListener(tracer.queryListener)
        step("traced phase")
        val spanDir = Paths.get(dir).getParent.resolve("traces")
        Files.createDirectories(spanDir)
        Files.write(spanDir.resolve(s"${a.workload}-seed${a.seed}.jsonl"), tracer.spans(ids).asJava)
        checkAll(t)
        tracer.layers(ids, t.size) ++ Map(
          "gen.turns" -> rows.toDouble,
          "gen.files" -> files.size.toDouble,
          "jvm.gc_ms" -> gc / t.size.toDouble,
          "sink.commits" -> t.map(_.commits).sum / t.size.toDouble,
          "trace.overhead_ratio" -> median(t.map(_.turnsPerSec)) / median(base.map(_.turnsPerSec))) ++
          blobLayer(files, rows) ++ scaling(base)
      }

    val lat = base.map(_.latenciesMs)
    val results = checks.result()
    spark.stop()
    val e2e = Map(
      "setup_s" -> setupS,
      "turns_per_s" -> median(base.map(_.turnsPerSec)),
      "latency_ms_p50" -> median(lat.map(percentile(_, 0.50))),
      "latency_ms_p95" -> median(lat.map(percentile(_, 0.95))),
      "peak_rss_mb" -> peakRssMb,
      "pair_error_share" -> CheckResult.share(results))
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "turns_staged" -> rows,
      "files" -> files.size, "drains" -> base.map(_.turnsPerSec).asJava,
      "latency_samples" -> lat.map(_.size).sum,
      "attempted" -> results.map(_.expected).sum, "failed" -> results.map(_.errors).sum,
      "checks" -> results.map(r => Map("expected" -> r.expected, "committed" -> r.committed,
        "duplicated" -> r.duplicated, "unexpected" -> r.unexpected, "missing" -> r.missing).asJava)
        .asJava,
      "end_to_end" -> e2e.asJava, "per_layer" -> traced.asJava)
  }

  /** Drains of the staged corpus, repeated until `seconds` have been
    * measured (at least MinDrains).
    */
  private def drains(files: Vector[String]): Vector[Drain] = {
    val out = Vector.newBuilder[Drain]
    val t0 = System.nanoTime()
    var n = 0
    while (n < MinDrains || System.nanoTime() - t0 < a.seconds * 1000000000L) {
      out += drain(spark, in, shape, files)
      n += 1
    }
    out.result()
  }

  /** One closed-loop drain with Trigger.AvailableNow and a fresh checkpoint
    * and sink. Every file is due at the drain's start; its latency runs to
    * the progress event of the micro-batch that committed it (file → batch
    * from the source's checkpoint log, batch → time from its progress
    * event).
    */
  private def drain(s: SparkSession, input: String, sh: Shape, files: Vector[String]): Drain = {
    val ck = fresh("ck")
    val out = fresh("out")
    val startMs = System.currentTimeMillis()
    val t = System.nanoTime()
    val q = Pipeline.topology(s, input, sh).run(s, out, ck)
    if (!q.awaitTermination(170000L)) { q.stop(); sys.error("drain did not finish") }
    q.exception.foreach(e => throw e)
    val wallS = (System.nanoTime() - t) / 1e9
    val progress = q.recentProgress
    val committedAt = progress.map(p => p.batchId -> commitMs(p)).toMap
    val batchOf = SourceLog.fileBatches(s"$ck/sources/0")
    val lat = files.flatMap(f => batchOf.get(f).flatMap(committedAt.get).map(_ - startMs.toDouble))
    require(lat.size == files.size, s"only ${lat.size} of ${files.size} files were committed")
    val wm = progress.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(java.time.Instant.parse(_).toEpochMilli).foldLeft(0L)(math.max)
    GraftStateStoreAccess.unloadAll()
    Tmp.delete(ck)
    Drain(progress.map(_.numInputRows).sum, wallS, lat, wm, out, q.id.toString,
      progress.length, SourceLog.commits(out))
  }

  private def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

  private def turns(): DataFrame =
    Pipeline.mapChain(spark, shape.mapped).foldLeft(spark.read.parquet(in))((d, f) => f(d))

  /** Check every drain's committed output against the oracle, then delete
    * it. A fingerprint equal to the oracle's for the same final watermark
    * passes; anything else gets the exact diff. `--inject-dup 1` first
    * publishes the largest committed batch a second time (the check must
    * catch it).
    */
  private def checkAll(ds: Seq[Drain]): Unit = {
    lazy val oracle = new Oracle(spark, turns())
    ds.foreach { d =>
      if (a.injectDup) SinkFault.duplicateLargestBatch(d.outDir)
      val want = expected.getOrElseUpdate(d.watermarkMs, oracle.expected(d.watermarkMs))
      val got = Oracle.committed(spark, d.outDir)
      checks += (if (got == want) CheckResult(want.rows, 0L, 0L, 0L, got.rows)
        else oracle.diff(d.outDir, d.watermarkMs, want.rows))
      Tmp.delete(d.outDir)
    }
  }

  /** The blob layer timed by the call: both processors in batch over (at
    * most about BlobRows rows of) the staged input.
    */
  private def blobLayer(files: Vector[String], rows: Long): Map[String, Double] = {
    val k = math.max(1, math.min(files.size.toLong, files.size * BlobRows / math.max(1L, rows)).toInt)
    val sample = spark.read.parquet(files.take(k).map(f => s"$in/$f"): _*)
    val n = sample.count()
    val msgs = Pipeline.messageChain(spark).foldLeft(sample)((d, f) => f(d))
    val t = System.nanoTime()
    msgs.write.format("noop").mode("overwrite").save()
    val ns = (System.nanoTime() - t).toDouble
    Map(
      "blob.udf_exprs" -> Pipeline.udfExprs(spark, sample, shape.mapped).toDouble,
      "blob.map_ns_per_row" -> ns / math.max(1L, n),
      "blob.error_rows" -> msgs.filter(col("error").isNotNull).count().toDouble)
  }

  /** Single-core baseline: one drain at local[1] against the median local[4]
    * drain of the same pipeline over the same corpus.
    */
  private def scaling(base: Vector[Drain]): Map[String, Double] = {
    val one = drain(session(1), in, shape, Vector.empty)
    checkAll(Seq(one))
    Map("scaling_eff_1to4" -> median(base.map(_.turnsPerSec)) / (4.0 * one.turnsPerSec))
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Linux: writing 5 to clear_refs resets VmHWM, so the peak covers set-up
    * and measurement, not staging.
    */
  private def resetPeakRss(): Unit =
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case _: Exception => () }

  private def peakRssKb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
}

/** Reads what a drain left on disk: FileStreamSource's checkpoint log
  * (file name → batch id) and the sink's commit manifests.
  */
object SourceLog {
  private val json = new ObjectMapper()

  def commits(outDir: String): Int = {
    val d = Paths.get(outDir, "_commits")
    if (!Files.isDirectory(d)) 0
    else Files.list(d).iterator().asScala.count(_.getFileName.toString.forall(_.isDigit))
  }

  def fileBatches(logDir: String): Map[String, Long] = {
    val d = Paths.get(logDir)
    if (!Files.isDirectory(d)) Map.empty
    else Files.list(d).iterator().asScala.toVector
      .filter(p => p.getFileName.toString.matches("""\d+(\.compact)?"""))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1).filter(_.nonEmpty))
      .map { line =>
        val n = json.readTree(line)
        val path = n.get("path").asText()
        path.substring(path.lastIndexOf('/') + 1) -> n.get("batchId").asLong()
      }.toMap
  }
}

/** Deliberate sink fault for the check's own test. */
object SinkFault {
  def duplicateLargestBatch(outDir: String): Unit = {
    val commits = Paths.get(outDir, "_commits")
    val manifests = Files.list(commits).iterator().asScala.toVector
      .filter(_.getFileName.toString.forall(_.isDigit))
    def size(m: java.nio.file.Path): Long = {
      val d = Paths.get(outDir, "data", Files.readString(m).trim)
      Files.list(d).iterator().asScala.map(Files.size).sum
    }
    val biggest = manifests.maxBy(size)
    val next = manifests.map(_.getFileName.toString.toLong).max + 1
    Files.copy(biggest, commits.resolve(next.toString))
  }
}
