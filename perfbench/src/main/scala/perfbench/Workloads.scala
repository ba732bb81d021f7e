package perfbench

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._
import graft.gen.TranscriptGen
import graft.model.Turn
import graft.streaming.SessionJoin
import graft.topo.{ConfigRunner, Topology}

/** The workloads' sizes: `files` staged input files, drained
  * `filesPerTrigger` files per micro-batch.
  */
final case class Shape(
    convs: Long,
    files: Int,
    filesPerTrigger: Int,
    hotConvs: Int,
    hotMult: Int,
    mapped: Boolean)

object Shape {
  def of(workload: String, scale: Double): Shape = {
    def convs(n: Double): Long = math.max(200L, (n * scale).toLong)
    workload match {
      case "replay_uniform" =>
        Shape(convs(6700), 16, 4, 0, 1, mapped = false)
      case "mapping_hotkeys" =>
        // 8 hot conversations carry about a tenth of all turns:
        // 8 * 21 * mult = 0.1 * convs * 21  =>  mult = convs / 80
        val n = convs(1000)
        Shape(n, 8, 4, 8, math.max(2, (n / 80).toInt), mapped = true)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
  }
}

/** The pipeline under test, assembled from the engine's public entry
  * points: a parquet `readStream` input, optional `bloblang` processors
  * built the way a user's YAML is (`ConfigRunner.buildProc`), the
  * `SessionJoin.pairStreaming` processor, and `Topology.run`'s
  * exactly-once sink.
  */
object Pipeline {
  val TurnDdl = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP"

  /** Inside BloblangCompiler's subset (field copies, trim, replace_all). */
  val ProgramInSubset: String =
    """root.conv_id = this.conv_id
      |root.turn_idx = this.turn_idx
      |root.role = this.role
      |root.text = this.text.trim().replace_all("  ", " ")
      |root.tool = this.tool
      |root.ts = this.ts
      |""".stripMargin

  /** Outside the subset: error flow with `catch` and `or`. */
  val ProgramErrorFlow: String =
    """root = this
      |root.text = this.text.uppercase().catch(this.text)
      |root.tool = this.tool.or("none")
      |""".stripMargin

  private val json = new ObjectMapper()

  private def bloblangProc(spark: SparkSession, program: String): DataFrame => DataFrame = {
    val node = json.createObjectNode()
    node.put("bloblang", program)
    ConfigRunner.buildProc(spark, node, Paths.get("."), Map.empty)
  }

  /** Turn rows → the reference's message Part (text, meta, error). */
  private def toMessage(df: DataFrame): DataFrame =
    df.select(
      to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("text"),
      map(lit("conv_id"), col("conv_id")).as("meta"),
      lit(null).cast("string").as("error"))

  private def fromMessage(df: DataFrame): DataFrame =
    df.select(from_json(col("text"), org.apache.spark.sql.types.StructType.fromDDL(TurnDdl))
      .as("t"), col("error"))
      .select(col("t.*"))

  /** The map stage of mapping_hotkeys as message-frame steps; the stage
    * before `fromMessage` still carries the error column.
    */
  def messageChain(spark: SparkSession): Vector[DataFrame => DataFrame] =
    Vector(toMessage _, bloblangProc(spark, ProgramInSubset), bloblangProc(spark, ProgramErrorFlow))

  def mapChain(spark: SparkSession, mapped: Boolean): Vector[DataFrame => DataFrame] =
    if (mapped) messageChain(spark) :+ (fromMessage _) else Vector.empty

  private def pair(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    SessionJoin.pairStreaming(df.as[Turn]).toDF()
  }

  def topology(spark: SparkSession, inDir: String, shape: Shape): Topology = {
    val input = Topology(_.readStream.schema(TurnDdl)
      .option("maxFilesPerTrigger", shape.filesPerTrigger.toLong).parquet(inDir))
    (mapChain(spark, shape.mapped) :+ (pair _)).foldLeft(input)(_.proc(_))
  }

  /** Distinct UDFs in the executed plan of the map stage (batch form of
    * the same processors over `turns`): one per interpreted processor.
    */
  def udfExprs(spark: SparkSession, turns: DataFrame, mapped: Boolean): Int = {
    val df = mapChain(spark, mapped).foldLeft(turns)((d, f) => f(d))
    df.queryExecution.executedPlan.collect { case p => p }
      .flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u.function }))
      .distinct.size
  }
}

/** The load generator: deterministic transcripts written as
  * event-time-ordered parquet files.
  */
object Stage {

  /** Stage `shape`'s corpus into `dir` as about `shape.files` parquet files
    * of consecutive event time; returns the file names in replay order
    * and the number of turns.
    */
  def write(spark: SparkSession, dir: String, seed: Long, shape: Shape): (Vector[String], Long) = {
    val turns = TranscriptGen.transcripts(spark, shape.convs, seed, shape.hotConvs, shape.hotMult)
      .persist()
    val rows = turns.count()
    // a global sort, cut into files of equal row count within each sorted
    // partition: part-<partition>-<job>-c<file> names sort in event-time order
    turns.orderBy(col("ts"), col("conv_id"), col("turn_idx"))
      .write.option("maxRecordsPerFile", math.max(1L, rows / shape.files)).parquet(dir)
    turns.unpersist()
    val names = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .toVector.sorted
    // FileStreamSource replays by mtime: stamp strictly increasing mtimes
    val base = System.currentTimeMillis() - names.size * 1000L
    names.zipWithIndex.foreach { case (n, i) =>
      Files.setLastModifiedTime(Paths.get(dir, n), FileTime.fromMillis(base + i * 1000L))
    }
    (names, rows)
  }
}
