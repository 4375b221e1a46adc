package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.pipeline.Etl
import graft.sources.{JiraSearchSource, Sinks, Sources}
import graft.sources.Sinks.DimSpec

/** What one op returned: its row count, an order-insensitive
  * fingerprint of its rows, on the checked pass the rows themselves
  * with their schema, and on a traced pass the final plan's Catalyst
  * phase times (analysis, optimization, planning) in seconds.
  */
final case class Outcome(
    rows: Long,
    fingerprint: String,
    kept: Option[(StructType, Array[Row])] = None,
    planPhases: Map[String, Double] = Map.empty)

/** The per-pass protocol the pass loop in [[Main]] runs. `trace` is None on
  * untraced passes; spans and phases are recorded only through it.
  */
trait Workload {
  def ops: Seq[String]
  def beginPass(pass: Int): Unit = ()
  def run(op: String, trace: Option[Recorder], keep: Boolean): Outcome
  /** Checks and cleans up after a pass; returns what the pass stored. */
  def endPass(pass: Int): Map[String, Any] = Map.empty
}

object Fingerprint {
  private def canon(v: Any): String = v match {
    case null                 => "\u0000"
    case b: Array[Byte]       => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row               => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: Double            => java.lang.Double.toString(d)
    case f: Float             => java.lang.Float.toString(f)
    case other                => other.toString
  }

  /** Sum of 64-bit row hashes plus the row count: the same multiset of
    * rows gives the same value in any order.
    */
  def of(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val s = canon(r)
      val h = (scala.util.hashing.MurmurHash3.stringHash(s, 0x1234).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 0x5678).toLong & 0xffffffffL)
      sum += h
    }
    f"${rows.length}%d:$sum%016x"
  }
}

/** Catalog queries over a directory of catalog tables: one op is one
  * `SparkEntry.queries` entry built, planned and collected.
  */
final class QueryWorkload(spark: SparkSession, dataDir: String, val ops: Seq[String]) extends Workload {
  private val fns = ops.map(n => n -> SparkEntry.queries(n)).toMap

  def run(op: String, trace: Option[Recorder], keep: Boolean): Outcome = {
    trace match {
      case None =>
        val df = fns(op)(spark, dataDir)
        outcome(df, df.collect(), keep, Map.empty)
      case Some(t) =>
        val df = t.span("build", "build")(fns(op)(spark, dataDir))
        t.span("plan", "plan")(df.queryExecution.executedPlan)
        val rows = t.span("exec", "exec")(df.collect())
        outcome(df, rows, keep, df.queryExecution.tracker.phases.map { case (k, v) =>
          k -> (v.endTimeMs - v.startTimeMs) / 1e3
        })
    }
  }

  private def outcome(df: DataFrame, rows: Array[Row], keep: Boolean, phases: Map[String, Double]) =
    Outcome(rows.length.toLong, Fingerprint.of(rows), if (keep) Some(df.schema -> rows) else None, phases)
}

/** The write path: each op loads one JIRA batch through the file
  * transport of `jira_search` and JSON-lines sources, `Etl.run`,
  * `Sinks.normalize`, and both sinks — parquet and an embedded Derby
  * star schema. Each pass gets a fresh sink directory and database,
  * bootstrapped once; batch k resolves its users and projects against
  * the dimension rows batches 0..k-1 wrote.
  *
  * Each step's output is cached and materialized inside its own phase
  * (the source scans in `source`, the gate in `pipeline`, the correlate
  * and transform plan in `transform`), so a phase's wall is that
  * step's work, and the sink phases write from cached rows. The
  * outcome's row count is the number of source rows read.
  */
final class EtlWorkload(spark: SparkSession, batchDirs: Seq[String], workDir: String, cores: Int)
    extends Workload {
  val ops: Seq[String] = batchDirs.indices.map(i => s"batch$i")

  private val specs = Seq(
    DimSpec("reviewer_name", "fk_reviewer", "jira_user"),
    DimSpec("reporter_name", "fk_reporter", "jira_user"),
    DimSpec("project_name", "fk_project", "project"))

  private val nameStruct = StructType(Seq(StructField("name", StringType)))
  private val worklogSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("worklogs", ArrayType(StructType(Seq(
      StructField("author", nameStruct),
      StructField("timeSpentSeconds", LongType),
      StructField("id", StringType)))))))
  private val detailSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("fields", StructType(Seq(
      StructField("customfield_12501", nameStruct),
      StructField("reporter", nameStruct),
      StructField("project", StructType(Seq(StructField("key", StringType)))),
      StructField("created", StringType),
      StructField("resolution", nameStruct),
      StructField("resolutiondate", StringType))))))
  private val keySchema = StructType(Seq(StructField("key", StringType)))

  private val props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }
  private var passDir: Path = _
  private def parquetDir = passDir.resolve("parquet").toString
  private def derbyPath = passDir.resolve("derby").toString
  private def url = s"jdbc:derby:$derbyPath;create=true"

  private def readDerby(table: String): DataFrame = spark.read.jdbc(url, "\"" + table + "\"", props)

  override def beginPass(pass: Int): Unit = {
    passDir = Paths.get(workDir, s"etl_pass$pass")
    Files.createDirectories(passDir)
    Sinks.bootstrapStarSchema(url, props)
  }

  def run(op: String, trace: Option[Recorder], keep: Boolean): Outcome = {
    def phase[T](name: String)(body: => T): T = trace.fold(body)(_.span(name, name)(body))
    val dir = batchDirs(op.stripPrefix("batch").toInt)
    val (sources, rowsRead) = phase("source") {
      val dfs = Seq(
        spark.read.format(classOf[JiraSearchSource].getName).option("path", s"$dir/issues.jsonl").load(),
        Sources.jsonLines(spark, s"$dir/worklogs.jsonl", worklogSchema),
        Sources.jsonLines(spark, s"$dir/details.jsonl", detailSchema),
        Sources.jsonLines(spark, s"$dir/errored.jsonl", keySchema)).map(_.persist())
      (dfs, dfs.map(_.count()).sum)
    }
    val Seq(raw, worklogs, details, errored) = sources
    val loaded = phase("pipeline")(Etl.run(raw, worklogs, details, errored)).persist()
    phase("transform")(loaded.count())
    // The view-insert row of the reference (v_feasibility): names in,
    // surrogate keys out.
    val incoming = loaded.select(
      col("key"), col("summary"), col("reviewer").as("reviewer_name"),
      col("reporter").as("reporter_name"), col("project").as("project_name"),
      col("created"), col("resolution_date"), col("design_estimate"),
      col("development_estimate"), col("development_pad_estimate"), col("pe_estimate"),
      col("pm_estimate"), col("qa_estimate"), col("issue_links"), col("worklog"),
      col("feasibility_timespent"), col("linked_timespent").as("issue_links_timespent"),
      col("feasibility_estimate_total"), col("delta_percentage"), col("delta"))
    val existing = Map(
      "jira_user" -> readDerby("jira_user").withColumnRenamed("username", "name"),
      "project" -> readDerby("project"))
    // Only dimension rows this batch created go to Derby; each is
    // computed when written, before its own table changes.
    val (factDf, freshDims) = phase("normalize") {
      val (dims, f) = Sinks.normalize(incoming, existing, specs)
      (Sinks.requireResolved(f.persist(), specs),
        dims.map { case (d, df) => d -> df.join(existing(d).select("id"), Seq("id"), "left_anti") })
    }
    phase("sink.parquet")(Sinks.writeParquet(factDf, parquetDir, mode = SaveMode.Append))
    phase("sink.jdbc") {
      Sinks.writeJdbc(freshDims("jira_user").withColumnRenamed("name", "username"),
        url, "\"jira_user\"", props, numPartitions = cores)
      Sinks.writeJdbc(freshDims("project"), url, "\"project\"", props, numPartitions = cores)
      Sinks.writeJdbc(factDf, url, "\"feasibility\"", props, numPartitions = cores)
    }
    (factDf +: loaded +: sources).foreach(_.unpersist(blocking = false))
    Outcome(rowsRead, "")
  }

  /** Reads both sinks back and summarizes what they hold: row count,
    * a hash of the sorted key set, and the delta checksum (sum of
    * non-null deltas and the null count). Then drops the pass's
    * database and files.
    */
  override def endPass(pass: Int): Map[String, Any] = {
    def summary(df: DataFrame): Map[String, Any] = {
      val rows = df.select(col("key"), col("delta")).collect()
      val keys = rows.map(_.getString(0)).sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val keyHash = md.digest(keys.mkString("\n").getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      val deltas = rows.filterNot(_.isNullAt(1)).map(_.getDouble(1))
      Map("rows" -> rows.length.toLong, "key_sha256" -> keyHash,
        "delta_sum" -> deltas.sum, "delta_nulls" -> (rows.length - deltas.length).toLong)
    }
    val parquet = summary(spark.read.parquet(parquetDir))
    val derby = summary(readDerby("feasibility"))
    val users = readDerby("jira_user").count()
    val projects = readDerby("project").count()
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$derbyPath;shutdown=true")
    catch { case _: java.sql.SQLException => () } // a clean shutdown reports itself as an exception
    val parquetBytes = Main.treeBytes(Paths.get(parquetDir), _.getFileName.toString.endsWith(".parquet"))
    val derbyBytes = Main.treeBytes(Paths.get(derbyPath, "seg0"), _ => true)
    Main.deleteTree(passDir)
    Map("parquet" -> parquet, "derby" -> derby, "dim_users" -> users, "dim_projects" -> projects,
      "parquet_bytes" -> parquetBytes, "derby_bytes" -> derbyBytes)
  }
}
