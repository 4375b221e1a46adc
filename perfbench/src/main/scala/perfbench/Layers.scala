package perfbench

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{BpeTokens, FixMojibake, GramHashes, MinHashFold}
import graft.operators.Multimodal

/** What the traced run recorded for one op. `filesOpened` counts the
  * parquet files the op's table opens listed; `rows` is the op's
  * outcome row count (on `etl`, the source rows it read).
  */
final case class OpTrace(
    op: String, counters: OpCounters, fromMs: Long, toMs: Long,
    planPhases: Map[String, Double], filesOpened: Long, rows: Long)

/** Folds the traced pass's spans and listener counters into the
  * per-layer metrics, named after the engine's modules.
  */
object Layers {
  // On etl, `pipeline` is the Etl.run call with its gate jobs (the
  // build phase); the other etl phases materialize data (execution).
  private val buildPhases = Set("build", "pipeline")
  private val sinkPhases = Set("normalize", "sink.parquet", "sink.jdbc")
  private val execPhases = sinkPhases ++ Set("exec", "source", "transform")

  def summarize(
      ops: Seq[OpTrace], spans: Seq[Span], wall: Double, untracedWall: Double,
      cores: Int, sessionStart: Double): Map[String, Any] = {
    val opIds = spans.filter(_.name.startsWith("op.")).map(_.id).toSet
    def phaseSeconds(names: Set[String]): Double =
      spans.filter(s => opIds(s.parent) && names(s.name)).map(_.seconds).sum
    def sumL(f: OpCounters => Long): Long = ops.map(o => f(o.counters)).sum
    def jobsIn(names: Set[String]): Long = ops.map(o => names.toSeq.map(o.counters.jobsByPhase).sum.toLong).sum
    val buildS = phaseSeconds(buildPhases)
    val taskCpuS = sumL(_.taskCpuNs) / 1e9
    val taskRunS = sumL(_.taskRunMs) / 1e3
    val tablesS = sumL(_.tablesJobMs) / 1e3
    val sinksS = phaseSeconds(sinkPhases)
    val etl = spans.exists(_.name == "source")
    def plan(k: String): Double = ops.map(_.planPhases.getOrElse(k, 0.0)).sum
    Map(
      "session.start_s" -> sessionStart,
      "tables.open_s" -> tablesS,
      "tables.open_jobs" -> sumL(_.tablesJobs),
      "tables.opens" -> ops.map(_.filesOpened).sum,
      "tables.share" -> tablesS / wall,
      "build.s" -> buildS,
      "build.jobs" -> jobsIn(buildPhases),
      "build.jobs_per_op" -> jobsIn(buildPhases).toDouble / ops.size,
      "build.share" -> buildS / wall,
      "plan.s" -> phaseSeconds(Set("plan")),
      "plan.analysis_s" -> plan("analysis"),
      "plan.optimization_s" -> plan("optimization"),
      "plan.planning_s" -> plan("planning"),
      "sched.jobs" -> ops.map(_.counters.jobs.toLong).sum,
      "sched.stages" -> sumL(_.stages.toLong),
      "sched.tasks" -> sumL(_.tasks.toLong),
      "sched.task_wait_s" -> sumL(_.taskWaitMs) / 1e3,
      "sched.nontask_s" -> ops.map(o => o.counters.idleMs(o.fromMs, o.toMs)).sum / 1e3,
      "sched.failed_tasks" -> sumL(_.failedTasks.toLong),
      "exec.s" -> phaseSeconds(execPhases),
      "exec.task_run_s" -> taskRunS,
      "exec.task_cpu_s" -> taskCpuS,
      "exec.cpu_share" -> taskCpuS / (wall * cores),
      "exec.gc_s" -> sumL(_.gcMs) / 1e3,
      "exec.utilization" -> taskRunS / (wall * cores),
      "exec.shuffle_write_bytes" -> sumL(_.shuffleWriteBytes),
      "exec.shuffle_read_bytes" -> sumL(_.shuffleReadBytes),
      "exec.spill_bytes" -> sumL(_.spillBytes),
      "sources.read_s" -> phaseSeconds(Set("source")),
      "sources.rows_read" -> (if (etl) ops.map(_.rows).sum else 0L),
      "pipeline.s" -> phaseSeconds(Set("pipeline", "transform")),
      "pipeline.gate_jobs" -> jobsIn(Set("pipeline")),
      "sinks.normalize_s" -> phaseSeconds(Set("normalize")),
      "sinks.write_parquet_s" -> phaseSeconds(Set("sink.parquet")),
      "sinks.write_jdbc_s" -> phaseSeconds(Set("sink.jdbc")),
      "sinks.share" -> sinksS / wall,
      "trace.wall_s" -> wall,
      "trace.untraced_wall_s" -> untracedWall,
      "trace.overhead_s" -> (wall - untracedWall))
  }
}

/** Single-thread timings of the engine's per-record kernels, called
  * directly through their public row functions on the workload's own
  * text records (document texts, or issue summaries on `etl`).
  */
object Kernels {
  private def nsPerRec[A](records: Seq[A])(f: A => Any): Double = {
    records.foreach(f) // warm the JIT before timing
    var reps = 0
    val t0 = System.nanoTime()
    while (reps == 0 || System.nanoTime() - t0 < 200000000L) {
      records.foreach(f)
      reps += 1
    }
    (System.nanoTime() - t0).toDouble / (reps.toLong * records.size)
  }

  def measure(texts: Seq[String]): Map[String, Any] = {
    val utf = texts.map(UTF8String.fromString)
    val grams = utf.map(GramHashes.compute(_, 5))
    val words = texts.map(_.split(' ').map(UTF8String.fromString).toSeq)
    val images = texts.take(200).zipWithIndex.map { case (t, i) => Multimodal.encodeGrayPng(i.toLong, t) }
    Map(
      "functions.gram_hashes.ns_per_rec" -> nsPerRec(utf)(GramHashes.compute(_, 5)),
      "functions.minhash_fold.ns_per_rec" -> nsPerRec(grams)(MinHashFold.compute(_, 64)),
      "functions.bpe_encode.ns_per_rec" -> nsPerRec(words)(_.foreach(BpeTokens.encode)),
      "functions.fix_mojibake.ns_per_rec" -> nsPerRec(utf)(FixMojibake.repair),
      "functions.media_phash.ns_per_rec" -> nsPerRec(images) { r =>
        Multimodal.dHash64(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload)))
      })
  }
}
