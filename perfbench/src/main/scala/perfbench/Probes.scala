package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.io.TableIO

/** Spark-side counters for one timed call, read from a listener the
  * benchmark registers (nothing inside the program is instrumented).
  */
final case class Window(jobs: Int, stages: Int, tasks: Int, taskS: Double, gcS: Double,
                        shuffleWriteMb: Double, outputMb: Double, outputRows: Long,
                        shuffleStageS: Double, dominantSkew: Double) {
  def +(b: Window): Window = Window(jobs + b.jobs, stages + b.stages, tasks + b.tasks,
    taskS + b.taskS, gcS + b.gcS, shuffleWriteMb + b.shuffleWriteMb, outputMb + b.outputMb,
    outputRows + b.outputRows, shuffleStageS + b.shuffleStageS,
    math.max(dominantSkew, b.dominantSkew))
}

object Ledger {
  private final case class Task(seq: Long, stage: Int, runMs: Long, gcMs: Long,
                                shuffleBytes: Long, outBytes: Long, outRows: Long)
  private final case class Stage(seq: Long, id: Int, durMs: Long)
}

final class Ledger(spark: SparkSession) extends SparkListener {
  import Ledger._

  private var seq = 0L
  private val jobs = ArrayBuffer.empty[Long]
  private val tasks = ArrayBuffer.empty[Task]
  private val stages = ArrayBuffer.empty[Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    seq += 1; jobs += seq
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    seq += 1
    val i = e.stageInfo
    val dur = for (s <- i.submissionTime; c <- i.completionTime) yield c - s
    stages += Stage(seq, i.stageId, dur.getOrElse(0L))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    seq += 1
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(seq, e.stageId, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten)
  }

  /** Runs `body`, then returns its result with the counters of the jobs it ran. */
  def window[A](body: => A): (A, Window) = {
    PerfbenchBus.drain(spark.sparkContext)
    val from = synchronized(seq)
    val out = body
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val ts = tasks.filter(_.seq > from)
      val ss = stages.filter(_.seq > from)
      val byStage = ts.groupBy(_.stage)
      val shuffleStages = byStage.collect { case (s, t) if t.exists(_.shuffleBytes > 0) => s }.toSet
      val dominant = if (byStage.isEmpty) 0.0 else {
        val run = byStage.values.maxBy(_.map(_.runMs).sum).map(_.runMs.toDouble).sorted
        val med = run(run.length / 2)
        run.last / math.max(med, 1.0)
      }
      (out, Window(
        jobs = jobs.count(_ > from), stages = ss.length, tasks = ts.length,
        taskS = ts.map(_.runMs).sum / 1e3, gcS = ts.map(_.gcMs).sum / 1e3,
        shuffleWriteMb = ts.map(_.shuffleBytes).sum / 1048576.0,
        outputMb = ts.map(_.outBytes).sum / 1048576.0,
        outputRows = ts.map(_.outRows).sum,
        shuffleStageS = ss.filter(s => shuffleStages(s.id)).map(_.durMs).sum / 1e3,
        dominantSkew = dominant))
    }
  }
}

/** A [[TableIO]] that times each call into the wrapped implementation and
  * counts, through `led`, the rows the call wrote.
  */
final class TimingIO(inner: TableIO, led: Ledger) extends TableIO {
  val seconds = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val rowsWritten = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  private def timed[A](name: String)(f: => A): A = {
    val t = System.nanoTime()
    val (a, w) = led.window(f)
    seconds(name) += (System.nanoTime() - t) / 1e9
    rowsWritten(name) += w.outputRows
    a
  }
  def read(spark: SparkSession, table: String): DataFrame =
    timed("read")(inner.read(spark, table))
  override def readEvolving(spark: SparkSession, table: String): DataFrame =
    timed("readEvolving")(inner.readEvolving(spark, table))
  def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    timed("write")(inner.write(df, table, mode))
  def overwritePartitions(df: DataFrame, table: String, partitionCol: String): Unit =
    timed("overwritePartitions")(inner.overwritePartitions(df, table, partitionCol))
  def deletePartitions(spark: SparkSession, table: String, partitionCol: String,
                       keys: Seq[Int]): Unit =
    timed("deletePartitions")(inner.deletePartitions(spark, table, partitionCol, keys))
  def exists(spark: SparkSession, table: String): Boolean =
    timed("exists")(inner.exists(spark, table))
}

/** Old-generation occupancy after a full collection, forced between timed
  * passes: the live set the workload holds, free of the timing of the
  * collections it happened to trigger.
  */
object Heap {
  def liveMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }
}

/** Minimal JSON writer: maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
