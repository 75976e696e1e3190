package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** What one operation cost, layer by layer. `siteMs`/`siteJobs` group the
  * operation's Spark jobs by the call site of their action (the first
  * frame outside Spark, e.g. `localCheckpoint at DedupeEngine.scala:<line>`). */
final class OpRecord(val op: String) {
  var wallMs = 0.0
  var jobs = 0
  var stages = 0
  var tasks = 0
  val siteMs = mutable.LinkedHashMap.empty[String, Double]
  val siteJobs = mutable.LinkedHashMap.empty[String, Int]
  /** Job wall ms by engine stage: "checkpoint" (the chunk-once
    * localCheckpoint), "commit" (VersionedTable's write path: segment
    * writes, stats readback, folds, key deletes) or "other". */
  val groupMs = mutable.LinkedHashMap("checkpoint" -> 0.0, "commit" -> 0.0, "other" -> 0.0)
  val planMs = mutable.LinkedHashMap("analysis" -> 0.0, "optimization" -> 0.0, "planning" -> 0.0)
  var queries = 0
  var runMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var inputB = 0L
  var outputB = 0L
  /** Segment count per index table after the operation. */
  val segments = mutable.LinkedHashMap.empty[String, Int]

  def planTotalMs: Double = planMs.valuesIterator.sum

  def toJson: String = {
    def obj[V](m: collection.Map[String, V]) =
      m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v.toString.toDouble)}" }.mkString("{", ",", "}")
    s"""{"op":${Json.str(op)},"wall_ms":${Json.num(wallMs)},"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""queries":$queries,"plan_ms":${obj(planMs)},"site_ms":${obj(siteMs)},"site_jobs":${obj(siteJobs)},""" +
      s""""group_ms":${obj(groupMs)},""" +
      s""""executor":{"run_ms":${Json.num(runMs)},"cpu_ms":${Json.num(cpuMs)},"gc_ms":${Json.num(gcMs)},""" +
      s""""shuffle_read_b":$shuffleReadB,"shuffle_write_b":$shuffleWriteB,"spill_b":$spillB,""" +
      s""""input_b":$inputB,"output_b":$outputB},"segments":${obj(segments)}}"""
  }
}

/** Listeners registered from the benchmark's own code: a SparkListener
  * for jobs, stages and task metrics, and a QueryExecutionListener for the
  * planning phases Catalyst records in QueryPlanningTracker. Events land on
  * the listener bus asynchronously; [[end]] drains the bus so every event
  * of the operation is counted against it and none against the next. */
final class Tracer(spark: SparkSession) {
  @volatile private var cur: OpRecord = null
  private val jobSite = mutable.Map.empty[Int, (String, String, Long)]
  /** SQL execution id -> (call site, engine stage) of the action that
    * started it. Jobs that adaptive execution submits from its own threads
    * carry only the execution id, not the caller's stack. */
  private val executionSite = mutable.Map.empty[String, (String, String)]

  /** Engine stage of an action, from the method names on its call stack. */
  private def group(stack: String): String =
    if (stack.contains("localCheckpoint")) "checkpoint"
    else if (Tracer.CommitMethods.exists(m => stack.contains(s"VersionedTable.$m") ||
        stack.contains(s"VersionedTable$$$$$m"))) "commit"
    else "other"

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executionSite(s.executionId.toString) = (s.description, group(s.details))
      case s: SparkListenerSQLExecutionEnd => executionSite.remove(s.executionId.toString)
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val r = cur
      if (r != null) {
        r.jobs += 1
        val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(executionSite.get)
          .getOrElse {
            val st = e.stageInfos.maxByOption(_.stageId)
            (st.fold("?")(_.name), group(st.fold("")(_.details)))
          }
        jobSite(e.jobId) = (site._1, site._2, e.time)
        r.siteJobs(site._1) = r.siteJobs.getOrElse(site._1, 0) + 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val r = cur
      jobSite.remove(e.jobId).foreach { case (site, g, t0) =>
        if (r != null) {
          r.siteMs(site) = r.siteMs.getOrElse(site, 0.0) + (e.time - t0)
          r.groupMs(g) += e.time - t0
        }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val r = cur
      if (r != null) r.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val r = cur
      val m = e.taskMetrics
      if (r != null && m != null) {
        r.tasks += 1
        r.runMs += m.executorRunTime
        r.cpuMs += m.executorCpuTime / 1e6
        r.gcMs += m.jvmGCTime
        r.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        r.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        r.inputB += m.inputMetrics.bytesRead
        r.outputB += m.outputMetrics.bytesWritten
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val r = cur
      if (r != null) {
        r.queries += 1
        for ((phase, s) <- qe.tracker.phases if r.planMs.contains(phase))
          r.planMs(phase) += s.durationMs
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    attached = false
  }

  def begin(op: String): OpRecord = {
    val r = new OpRecord(op)
    cur = r
    r
  }

  /** Close the operation: drain the bus so its last events are counted. */
  def end(r: OpRecord): OpRecord = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    cur = null
    r
  }
}

object Tracer {
  /** VersionedTable methods on its write path. */
  val CommitMethods: Seq[String] = Seq("commit", "append", "deleteKeys", "publish", "compact")
}

/** Segment count of a VersionedTable: the entries of its newest manifest
  * (one line per segment), read off the table directory. */
object Segments {
  private val Manifest = "^manifest-(\\d+)\\.txt$".r

  def count(tableDir: java.nio.file.Path): Int = {
    if (!java.nio.file.Files.isDirectory(tableDir)) return 0
    val s = java.nio.file.Files.list(tableDir)
    val newest = try {
      val it = s.iterator()
      var best = -1L
      while (it.hasNext) it.next().getFileName.toString match {
        case Manifest(n) => best = math.max(best, n.toLong)
        case _ => ()
      }
      best
    } finally s.close()
    if (newest < 0) 0
    else new String(java.nio.file.Files.readAllBytes(tableDir.resolve(s"manifest-$newest.txt")), "UTF-8")
      .linesIterator.map(_.trim).filter(_.nonEmpty).map(_.takeWhile(_ != '/').takeWhile(_ != '\t'))
      .toSeq.distinct.size
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("\\p{Cntrl}", " ") + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
