package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side. `run.py` prepares the inputs, starts this
  * main, and checks what it writes. One JVM runs one workload as a
  * closed loop with a single client: each op is submitted only after
  * the previous one returned.
  *
  *   --workload star|loops|etl   --data DIR   --work DIR   --out FILE
  *   --ops a,b,c (query workloads, in run order) | --batches DIR,DIR,... (etl)
  *   --cores N   --seconds S   --warmup-passes W   --min-passes P   --trace 0|1
  *   --texts FILE (kernel records)
  *
  * Protocol: session start, W untimed warm-up passes (pass 0's results
  * are kept as the checked reference), then timed passes, numbered from
  * W, until S seconds have passed and at least P passes ran. With
  * --trace 1 the timed part is an untraced, a traced and another
  * untraced pass. Between ops every cache is released and a GC is
  * forced, so each op starts from the same state.
  */
object Main {

  final case class OpRecord(
      pass: Int, op: String, seconds: Double, rows: Long, fingerprint: String, error: String)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val warmupPasses = a("warmup-passes").toInt
    val minPasses = a("min-passes").toInt
    val traced = a("trace") == "1"
    val workDir = a("work")

    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores, "perfbench")
    val sessionStart = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")

    val workload: Workload =
      if (workloadName == "etl") new EtlWorkload(spark, a("batches").split(',').toSeq, workDir, cores)
      else new QueryWorkload(spark, a("data"), a("ops").split(',').toSeq)

    val records = mutable.ArrayBuffer.empty[OpRecord]
    val passWalls = mutable.ArrayBuffer.empty[(Int, Double)]
    val passStore = mutable.ArrayBuffer.empty[Map[String, Any]]
    val reference = mutable.LinkedHashMap.empty[String, Outcome]

    def sweep(): Unit = {
      GraftSession.releaseAllCaches(spark)
      System.gc()
      PerfbenchBus.drain(spark.sparkContext)
    }

    val opTraces = mutable.ArrayBuffer.empty[OpTrace]

    /** One pass over every op; returns its wall seconds (op time only).
      * The warm-up pass runs the ops in name order, so the op that pays
      * the JVM's cold start is the same whatever order the seed chose.
      */
    def pass(k: Int, trace: Option[Recorder]): Double = {
      workload.beginPass(k)
      var wall = 0.0
      (if (k == 0) workload.ops.sorted else workload.ops).foreach { op =>
        val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
        val fromMs = System.currentTimeMillis()
        val s = System.nanoTime()
        val (out, err) =
          try {
            val body = () => workload.run(op, trace, keep = k == 0)
            (Some(trace.fold(body())(_.span(s"op.$op")(body()))), null)
          } catch { case e: Throwable => (None, e.getClass.getName + ": " + e.getMessage) }
        val dt = (System.nanoTime() - s) / 1e9
        val toMs = System.currentTimeMillis()
        wall += dt
        trace.foreach { t =>
          opTraces += OpTrace(op, t.harvest(), fromMs, toMs, out.map(_.planPhases).getOrElse(Map.empty),
            if (workloadName == "etl") 0L else HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0,
            out.map(_.rows).getOrElse(0L))
        }
        records += OpRecord(k, op, dt, out.map(_.rows).getOrElse(-1L), out.map(_.fingerprint).orNull, err)
        if (k == 0) out.foreach(reference(op) = _)
        sweep()
      }
      passStore += (workload.endPass(k) + ("pass" -> k))
      wall
    }

    (0 until warmupPasses).foreach(pass(_, None))
    val warmupDone = System.currentTimeMillis()
    val tracedPass = warmupPasses + 1

    var layers: Map[String, Any] = Map.empty
    if (!traced) {
      val start = System.nanoTime()
      var k = warmupPasses
      while (k < warmupPasses + minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
        passWalls += k -> pass(k, None)
        k += 1
      }
    } else {
      // A traced pass between two untraced ones: the traced wall minus
      // their mean is the tracing overhead, with JIT warm-up drift
      // spread over both sides.
      val rec = new Recorder(spark)
      val before = pass(tracedPass - 1, None)
      rec.open()
      val tracedWall = rec.span("pass")(pass(tracedPass, Some(rec)))
      rec.close()
      val after = pass(tracedPass + 1, None)
      passWalls ++= Seq(tracedPass - 1 -> before, tracedPass + 1 -> after)
      val texts = Files.readAllLines(Paths.get(a("texts"))).asScala.toSeq
      layers = Layers.summarize(opTraces.toSeq, rec.spanList, tracedWall, (before + after) / 2, cores, sessionStart) ++
        Kernels.measure(texts)
      Files.writeString(Paths.get(workDir, "trace_spans.json"), rec.spansJson)
    }

    val rssPeak = rssPeakMb()

    // The checked reference: every op's warm-up rows, for run.py to
    // compare against the DuckDB oracle.
    reference.foreach { case (op, o) =>
      o.kept.foreach { case (schema, rows) =>
        spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(Paths.get(workDir, "reference", op).toString)
      }
    }

    val result = Map(
      "session_start_s" -> sessionStart,
      "warmup_done_epoch_ms" -> warmupDone,
      "first_timed_pass" -> warmupPasses,
      "traced_pass" -> tracedPass,
      "rss_peak_mb" -> rssPeak,
      "pass_walls" -> passWalls.map { case (k, w) => Map("pass" -> k, "wall_s" -> w) },
      "ops" -> records.map(r => Map("pass" -> r.pass, "op" -> r.op, "seconds" -> r.seconds,
        "rows" -> r.rows, "fingerprint" -> r.fingerprint, "error" -> r.error)),
      "reference" -> reference.map { case (op, o) => op -> o.fingerprint },
      "passes" -> passStore,
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => workload.ops.contains(k) },
      "layers" -> layers)
    Files.writeString(Paths.get(a("out")), Json.render(result))
    spark.stop()
  }

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  def treeBytes(root: Path, keep: Path => Boolean): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && keep(p)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
