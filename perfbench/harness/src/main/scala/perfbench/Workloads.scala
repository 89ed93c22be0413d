package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.mr.{MapReduceJob, TabCodec}
import graft.sources.TextIO

/** What an operation's action hands to its check. */
sealed trait Out
/** Collected rows of a DataFrame; checked outside the JVM (the first
  * pass is written out for the oracle), later passes by digest. */
final case class Rows(rows: Array[Row], schema: StructType) extends Out
/** A word tally, checked here against the generator's own tally. */
final case class Tally(counts: Map[String, Long]) extends Out
/** A `key\tvalue` text sink on disk; the check reads it back and
  * compares it as a tally. */
final case class Sink(dir: String) extends Out

/** One operation of a workload's schedule. `construct` builds the
  * value through the engine's public entry point, `action` runs it. */
final case class Op(name: String, construct: () => Any, action: Any => Out)

/** Everything an operation needs to find its inputs. */
final case class Ctx(spark: SparkSession, data: String, work: String, scripts: String, cores: Int)

object Workloads {

  /** Parquet tables each workload reads (for set-up registration and
    * the traced bare scan); mr_job also reads its text shards. */
  def tables(workload: String): Seq[String] = workload match {
    case "mr_job"    => Seq("documents")
    case "iterative" => Seq("embeddings")
    case other       => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def textInputs(workload: String): Seq[String] =
    if (workload == "mr_job") Seq("shards") else Nil

  def schedule(workload: String, c: Ctx): Seq[Op] = workload match {
    case "mr_job"    => mrOps(c)
    case "iterative" => Seq(registered(c, "cc_star"))
    case other       => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** A registered query: the public `SparkEntry.queries` builder, then
    * `collect()` as the action. */
  def registered(c: Ctx, name: String): Op =
    Op(name, () => SparkEntry.queries(name)(c.spark, c.data), df => {
      val d = df.asInstanceOf[DataFrame]
      Rows(d.collect(), d.schema)
    })

  private def mrOps(c: Ctx): Seq[Op] = {
    val shards = s"${c.data}/shards"
    def tallyOf(df: Any): Tally =
      Tally(df.asInstanceOf[DataFrame].collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    Seq(
      // scan -> per-record map -> full shuffle -> reduce -> text sink;
      // the sink is read back by the check, outside the timed window
      Op("mr_run",
        () => MapReduceJob(MapReduceJob.tokenizeMap, MapReduceJob.sumLongs)
          .run(TextIO.readLines(c.spark, shards)),
        ds => {
          val sink = s"${c.work}/sink"
          TextIO.writeTabbed(ds.asInstanceOf[Dataset[(String, String)]], sink)
          Sink(sink)
        }),
      // the reference's binary contract: tr/awk map and reduce scripts
      Op("mr_pipe",
        () => MapReduceJob.runPipe(TextIO.readLines(c.spark, shards),
          Seq("bash", s"${c.scripts}/map.sh"), Seq("bash", s"${c.scripts}/reduce.sh"), c.cores),
        rdd => Tally(rdd.asInstanceOf[RDD[String]].collect().iterator
          .flatMap(TabCodec.decode).map { case (k, v) => k -> v.trim.toLong }.toMap)),
      Op("wordcount", () => SparkEntry.queries("wordcount")(c.spark, c.data), tallyOf),
      Op("mr_wordcount", () => SparkEntry.queries("mr_wordcount")(c.spark, c.data), tallyOf))
  }

  /** Reads a `key\tvalue` text sink back from disk, summing repeated
    * keys so a key written twice shows up as a wrong count. */
  def readSink(dir: String): Map[String, Long] = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-"))
    val m = scala.collection.mutable.HashMap[String, Long]()
    files.foreach { f =>
      Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.foreach { l =>
        TabCodec.decode(l).foreach { case (k, v) => m(k) = m.getOrElse(k, 0L) + v.toLong }
      }
    }
    m.toMap
  }

  /** The generator's exact tally (`word\tcount` per line). */
  def readTally(path: String): Map[String, Long] =
    Files.readAllLines(new File(path).toPath, StandardCharsets.UTF_8).asScala.iterator
      .filter(_.nonEmpty)
      .map { l => val i = l.indexOf('\t'); l.substring(0, i) -> l.substring(i + 1).toLong }
      .toMap
}
