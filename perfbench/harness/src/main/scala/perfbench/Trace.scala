package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution counters of the Spark jobs started under one span. */
final class ExecStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var busyMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var shuffleRecords = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  /** Largest (longest task / median task) over this span's stages. */
  var skew = 0.0

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "busy_ms" -> busyMs,
    "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "shuffle_write" -> shuffleWrite,
    "shuffle_read" -> shuffleRead, "shuffle_records" -> shuffleRecords, "spill" -> spill,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes, "skew" -> skew)
}

/** The traced run's recorder. Spans are kept in memory and written when
  * the run ends: run -> pass -> operation -> {construct, action, check},
  * with each Spark job a child of the span whose job group started it.
  * Catalyst phase times and join output rows come from a
  * [[QueryExecutionListener]], attributed to the operation running when
  * the query finished (the bus is drained at every operation boundary). */
final class Trace(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private var nextId = 0

  private val stats = mutable.HashMap[Int, ExecStats]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val stageTasks = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private val jobSpan = mutable.HashMap[Int, (Int, Long)]()

  /** Catalyst phase milliseconds, and the candidate join's output and
    * verified rows, of the queries finished during the current operation. */
  @volatile private var phases = mutable.HashMap[String, Double]()
  @volatile private var candidateRows = 0L
  @volatile private var verifiedRows = 0L
  @volatile private var queries = 0

  private def groupSpan(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      groupSpan(e.properties).foreach { s =>
        stats.getOrElseUpdate(s, new ExecStats).jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
        jobSpan(e.jobId) = (s, e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (parent, start) =>
        spans += Map("id" -> s"job-${e.jobId}", "parent" -> parent, "name" -> "spark_job",
          "start_ms" -> start, "end_ms" -> e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val id = e.stageInfo.stageId
      stageSpan.get(id).foreach { s =>
        val st = stats.getOrElseUpdate(s, new ExecStats)
        st.stages += 1
        stageTasks.remove(id).filter(_.size >= 2).foreach { ds =>
          val sorted = ds.sorted
          val med = math.max(1L, sorted(sorted.size / 2))
          st.skew = math.max(st.skew, sorted.last.toDouble / med)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val st = stats.getOrElseUpdate(s, new ExecStats)
        st.tasks += 1
        st.busyMs += e.taskInfo.duration
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          st.cpuNs += m.executorCpuTime
          st.gcMs += m.jvmGCTime
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          st.spill += m.diskBytesSpilled
          st.inputBytes += m.inputMetrics.bytesRead
          st.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
    qe.tracker.phases.foreach { case (k, v) =>
      phases(k) = phases.getOrElse(k, 0.0) + v.durationMs
    }
    queries += 1
    // the candidate join is the join with the most output rows; its
    // verified pairs are the rows of the first filter or conditioned
    // join above it (the verify step), else its own rows
    val parent = new java.util.IdentityHashMap[SparkPlan, SparkPlan]()
    var best: Option[BaseJoinExec] = None
    walk(qe.executedPlan, null) { (node, up) =>
      if (up != null) parent.put(node, up)
      node match {
        case j: BaseJoinExec if best.forall(b => rows(j) > rows(b)) => best = Some(j)
        case _ => ()
      }
    }
    best.filter(j => rows(j) > candidateRows).foreach { j =>
      var up = parent.get(j)
      while (up != null && !isVerify(up)) up = parent.get(up)
      candidateRows = rows(j)
      verifiedRows = if (up == null) rows(j) else rows(up)
    }
  }

  private def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  private def isVerify(p: SparkPlan): Boolean = p match {
    case _: FilterExec      => true
    case j: BaseJoinExec    => j.condition.isDefined
    case _                  => false
  }

  /** Visits every node of a final (adaptive) plan, stages included. */
  private def walk(p: SparkPlan, up: SparkPlan)(f: (SparkPlan, SparkPlan) => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, up)(f)
    case s: QueryStageExec        => walk(s.plan, up)(f)
    case r: ReusedExchangeExec    => walk(r.child, up)(f)
    case other =>
      f(other, up)
      other.children.foreach(walk(_, other)(f))
      other.subqueries.foreach(walk(_, other)(f))
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Runs `body` inside a new span; Spark jobs it starts carry the
    * span's job group. Returns the body's value and the span id. */
  def span[A](parent: Int, name: String, attrs: Map[String, Any] = Map.empty)(body: Int => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(s"span-$id", name)
    val start = System.currentTimeMillis()
    try body(id)
    finally {
      val end = System.currentTimeMillis()
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc)
      synchronized {
        spans += Map("id" -> id, "parent" -> parent, "name" -> name,
          "start_ms" -> start, "end_ms" -> end) ++ attrs
      }
    }
  }

  /** Delivers every pending listener event. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Execution counters of the jobs under span `id` (after [[drain]]). */
  def exec(id: Int): Map[String, Any] = synchronized {
    stats.getOrElse(id, new ExecStats).toMap
  }

  /** Catalyst and join counters since the last call; resets them. */
  def takeQueryStats(): Map[String, Any] = synchronized {
    val m = Map[String, Any]("queries" -> queries, "candidate_rows" -> candidateRows,
      "verified_rows" -> verifiedRows) ++
      phases.map { case (k, v) => s"phase_${k}_ms" -> v }
    phases = mutable.HashMap[String, Double]()
    candidateRows = 0L
    verifiedRows = 0L
    queries = 0
    m
  }

  def allSpans: Seq[Map[String, Any]] = synchronized(spans.toList)
}
