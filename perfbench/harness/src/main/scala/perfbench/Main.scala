package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SaveMode, SparkSession}

import graft.{CacheScope, SparkEntry}

/** One benchmark run in one JVM: set-up, one cold pass over the
  * workload's schedule, an untimed warm-up pass, then measured warm
  * passes (at least three) until `--seconds` of warm work is done. Every operation is timed as construction plus action;
  * its result is checked and its caches are released outside the timed
  * window. Writes the raw per-operation record to `<out>/raw.json`;
  * `perfbench/run.py` turns it into metrics.
  *
  * Usage: Main --workload W --data DIR --out DIR --scripts DIR
  *             --seconds S [--trace 0|1] [--plant throw:OP|wrong:OP]
  */
object Main {

  /** Untimed passes between the cold pass and the measured ones. */
  val WarmupPasses = 1

  /** Measured passes in every run, however long they take: the median
    * of three is not moved by one disturbed pass. */
  val MinMeasuredPasses = 3

  final case class Opts(workload: String, data: String, out: String, scripts: String,
      seconds: Double, trace: Boolean, plant: Option[(String, String)])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("data"), need("out"), need("scripts"), need("seconds").toDouble,
      m.get("trace").contains("1"),
      m.get("plant").map { p => val i = p.indexOf(':'); p.take(i) -> p.drop(i + 1) })
  }

  private def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Registers the workload's inputs as views, which resolves every
    * input's schema (file listing and footers) — a ready session. */
  private def register(spark: SparkSession, o: Opts): Unit = {
    Workloads.tables(o.workload).foreach { t =>
      spark.read.parquet(s"${o.data}/$t.parquet").createOrReplaceTempView(t)
    }
    Workloads.textInputs(o.workload).foreach { t =>
      spark.read.textFile(s"${o.data}/$t").createOrReplaceTempView(t)
    }
  }

  private def release(spark: SparkSession): Unit = {
    CacheScope.release(blocking = true)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** A planted fault for the benchmark's self-tests: `throw` fails the
    * operation's construction at once, `wrong` corrupts its result. */
  private def planted(op: Op, plant: Option[(String, String)]): Op = plant match {
    case Some(("throw", n)) if n == op.name =>
      op.copy(construct = () => throw new IllegalStateException("planted exception"))
    case Some(("wrong", n)) if n == op.name =>
      op.copy(action = b => op.action(b) match {
        case Tally(c)      => Tally(c.updated("planted", 1L))
        case Sink(d)       =>
          Files.write(new File(s"$d/part-planted").toPath, "planted\t1\n".getBytes(StandardCharsets.UTF_8))
          Sink(d)
        case Rows(r, s)    => Rows(r.drop(1), s)
      })
    case _ => op
  }

  /** Heap held after a full collection: the live data an operation's
    * result and caches keep, without the garbage whose collection
    * timing varies from run to run. */
  private def liveHeapMb(): Double = {
    // the second collection follows the context cleaner, which drops
    // blocks of broadcasts and shuffles the first one found unreachable
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up: from the JVM's own start to a ready session
    val spark = session(cores)
    register(spark, o)
    val setup = (System.currentTimeMillis() - jvmStart) / 1e3

    val work = s"${o.out}/work"
    new File(work).mkdirs()
    val ctx = Ctx(spark, o.data, work, o.scripts, cores)
    val ops = Workloads.schedule(o.workload, ctx).map(planted(_, o.plant))
    val tally = if (o.workload == "mr_job") Workloads.readTally(s"${o.data}/tally.tsv") else Map.empty[String, Long]
    val firstDigest = mutable.HashMap[String, String]()
    // the engine's DuckDB oracle for each registered operation, for
    // the external check of the first pass's rows
    val oracles = ops.flatMap(op => SparkEntry.oracleSql.get(op.name).map(op.name -> _)).toMap
    Files.write(new File(s"${o.out}/oracle_sql.json").toPath,
      Json.write(oracles).getBytes(StandardCharsets.UTF_8))
    val trace = if (o.trace) Some(new Trace(spark)) else None

    /** Checks one result; None when right. The first pass writes
      * row results out for the external checks; later passes must
      * reproduce the first pass's rows exactly. */
    def check(op: Op, pass: Int, out: Out): Option[String] = out match {
      case Sink(_) => Some(s"${op.name}: the sink was not read back")
      case Tally(got) =>
        if (got == tally) None
        else {
          val wrong = (got.keySet ++ tally.keySet).count(k => got.get(k) != tally.get(k))
          Some(s"${op.name}: $wrong of ${tally.size} words differ from the generator's tally")
        }
      case Rows(rows, schema) =>
        val d = digest(rows)
        if (pass == 0) {
          firstDigest(op.name) = d
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"${o.out}/results/${op.name}")
          None
        } else if (firstDigest.get(op.name).contains(d)) None
        else Some(s"${op.name}: rows differ from the first pass")
    }

    def runOp(op: Op, pass: Int, passSpan: Int): Map[String, Any] = {
      var tConstruct = 0.0
      var tAction = 0.0
      var err: Option[String] = None
      var out: Out = null
      val rec = mutable.LinkedHashMap[String, Any]("name" -> op.name)
      def timed[A](phase: String, parent: Int)(body: => A): (A, Double, Int) = {
        val t0 = System.nanoTime()
        trace match {
          case Some(t) => t.span(parent, phase) { id => val a = body; (a, (System.nanoTime() - t0) / 1e9, id) }
          case None    => val a = body; (a, (System.nanoTime() - t0) / 1e9, -1)
        }
      }
      def inOp[A](body: Int => A): A = trace match {
        case Some(t) => t.span(passSpan, s"op:${op.name}", Map("pass" -> pass))(body)
        case None    => body(-1)
      }
      inOp { opSpan =>
        try {
          val (built, tc, cId) = timed("construct", opSpan)(op.construct())
          tConstruct = tc
          trace.foreach { t => t.drain(); rec("cuts") = CacheScope.trackedCount; rec("construct_exec") = t.exec(cId) }
          val (r, ta, aId) = timed("action", opSpan)(op.action(built))
          out = r; tAction = ta
          trace.foreach { t => t.drain(); rec("action_exec") = t.exec(aId) }
          // measured in the untimed warm-up pass: a full collection per
          // operation would otherwise eat into the measured window
          if (pass == WarmupPasses) rec("live_heap_mb") = liveHeapMb()
        } catch {
          case NonFatal(e) => err = Some(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        }
        val (_, tCheck, _) = timed("check", opSpan) {
          // a sink is read back here, outside the timed action
          if (err.isEmpty) err = try {
            out = out match { case Sink(d) => Tally(Workloads.readSink(d)); case o => o }
            check(op, pass, out)
          } catch {
            case NonFatal(e) => Some(s"${op.name}: check failed: $e".take(400))
          }
          out match {
            case Rows(r, _) => rec("rows") = r.length
            case Tally(c)   => rec("rows") = c.size
            case _          => ()
          }
        }
        val r0 = System.nanoTime()
        release(spark)
        rec("release_s") = (System.nanoTime() - r0) / 1e9
        trace.foreach { t => t.drain(); rec ++= t.takeQueryStats() }
        rec("check_s") = tCheck
      }
      rec("construct_s") = tConstruct
      rec("action_s") = tAction
      rec("ok") = err.isEmpty
      err.foreach { e => rec("error") = e; System.err.println(s"PERFBENCH failed: $e") }
      rec.toMap
    }

    def runPass(pass: Int, runSpan: Int): Seq[Map[String, Any]] = trace match {
      case Some(t) => t.span(runSpan, s"pass:$pass") { id => ops.map(runOp(_, pass, id)) }
      case None    => ops.map(runOp(_, pass, -1))
    }

    // the cold pass, then untimed warm-up passes (the JIT keeps speeding
    // up the second and third pass), then the measured warm passes
    def runAll(runSpan: Int): Seq[Seq[Map[String, Any]]] = {
      val passes = mutable.ArrayBuffer[Seq[Map[String, Any]]]()
      (0 to WarmupPasses).foreach(p => passes += runPass(p, runSpan))
      val w0 = System.nanoTime()
      var p = WarmupPasses + 1
      while (p <= WarmupPasses + MinMeasuredPasses || (System.nanoTime() - w0) / 1e9 < o.seconds) {
        passes += runPass(p, runSpan)
        p += 1
      }
      passes.toSeq
    }

    val passes = trace match {
      case Some(t) => t.span(0, s"run:${o.workload}")(runAll)
      case None    => runAll(0)
    }

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "cores" -> cores, "setup_s" -> setup,
      "warmup_passes" -> WarmupPasses, "passes" -> passes)

    trace.foreach { t =>
      // a bare scan of each input, three times, median per input
      val scans = (Workloads.tables(o.workload).map(n => s"${o.data}/$n.parquet") ++
        Workloads.textInputs(o.workload).map(n => s"${o.data}/$n")).map { path =>
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          val df = if (path.endsWith(".parquet")) spark.read.parquet(path) else spark.read.text(path)
          df.write.format("noop").mode(SaveMode.Overwrite).save()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        times(1)
      }
      t.drain()
      record("scan_s") = scans.sum
      Files.write(new File(s"${o.out}/spans.json").toPath,
        Json.write(t.allSpans).getBytes(StandardCharsets.UTF_8))
    }

    Files.write(new File(s"${o.out}/raw.json").toPath,
      Json.write(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
