package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It runs one workload against the program's
  * public API, times it from the outside and writes one JSON document of
  * raw samples, run context, per-layer values and correctness checks.
  * `perfbench/run.py` turns that document into the reported metrics.
  *
  * {{{
  * Main --workload bulk_extract|scan_ocr --seed N
  *      --seconds S --trace 0|1 --work DIR --out FILE [--cores C]
  * Main --selftest --work DIR --out FILE
  * }}}
  *
  * Load is a closed loop: one job at a time in one `local[C]` session.
  * A set-up round writes the seeded documents table, synthesizes the input
  * from it and makes one untimed pass over every timed path. After the
  * session has started, the run makes one cold set-up round, whose pass is
  * the correctness gates' ([[Workload.gate]]), then
  * [[Workload.warmPasses]] untimed passes that carry the JIT towards its
  * steady state, then [[Workload.SetupRounds]] more set-up rounds, each
  * timed on its own (the report takes their median as `setup_s`; the cold
  * round is run context). Then come [[Workload.passes]] timed passes, as
  * many as fill `--seconds` at the workload's [[Workload.nominalPassS]]; a full
  * collection between passes keeps one pass's garbage out of the next.
  * With `--trace 1`, [[Workload.tracedPairs]] untraced and traced passes
  * alternate instead, and the layer probes run after them, so the run
  * also yields tracing overhead. Between the warm rounds and between the
  * passes the run times a fixed reference computation ([[Calibration]]),
  * by which the report scales the end-to-end times to a fixed box speed.
  */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
                        trace: Boolean = false, work: String = "", out: String = "",
                        cores: Int = 4, selftest: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case "--selftest" :: t => parse(t, o.copy(selftest = true))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  def secs[A](f: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t) / 1e9)
  }

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** CPU seconds this process has used, on every thread. */
  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(o.work.nonEmpty && o.out.nonEmpty, "--work and --out are required")
    val loadStart = loadAvg()
    val spark = session(o)
    spark.range(1).count()
    // JVM start to first finished job: run context only, outside `setup_s`,
    // since it happens once per process and varies most with the box's load
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val doc: Map[String, Any] =
      if (o.selftest) SelfTest.run(spark, o)
      else {
        val w: Workload = o.workload match {
          case "bulk_extract" => new BulkExtract(spark, o, "all", replicas = 2)
          case "scan_ocr" => new BulkExtract(spark, o, "scan", replicas = 8)
          case other => throw new IllegalArgumentException(s"unknown workload: $other")
        }
        w.execute(sessionS) ++ Map("load_avg_start" -> loadStart)
      }
    val json = Json(doc ++ Map("load_avg_end" -> loadAvg()))
    java.nio.file.Files.write(java.nio.file.Paths.get(graft.io.PathGuard.checkWritable(o.out)),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** A named correctness check: `failed` of `attempted` items were wrong. */
final case class Check(name: String, attempted: Long, failed: Long, detail: String = "") {
  def toMap: Map[String, Any] =
    Map("name" -> name, "attempted" -> attempted, "failed" -> failed, "detail" -> detail)
}

object Workload {
  /** Warm set-up rounds a run makes; `setup_s` is their median. */
  val SetupRounds = 3
  /** Timed passes per run: a count, not a time budget, so that a slow box
    * takes its median over the same passes as a fast one.
    */
  def passes(seconds: Double, nominalPassS: Double): Int =
    math.max(5, math.ceil(seconds / nominalPassS).toInt)

  /** Untraced and traced pass pairs of a traced run: half as many as the
    * passes of an untraced run, which keeps a traced run, layer probes
    * included, within the time of two untraced ones.
    */
  def tracedPairs(passes: Int): Int = math.max(3, (passes + 1) / 2)
}

abstract class Workload(val spark: SparkSession, val o: Main.Opts) {
  import Main.secs
  import Workload._

  val docsDir = s"${o.work}/docs"
  val checks = mutable.ArrayBuffer.empty[Check]
  /** Per-layer values, one per traced pass or probe; the report takes medians. */
  val layers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def layer(name: String, v: Double): Unit =
    layers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Builds the inputs from the documents table, replacing those of an
    * earlier round; returns (docs in, bytes in).
    */
  def synthesize(): (Long, Long)
  /** One timed pass: named operation seconds, plus any extra samples. */
  def pass(): Map[String, Double]
  /** About how long one warm pass takes on a 4-core box (3 Spark cores). */
  def nominalPassS: Double
  /** Untimed passes after the cold set-up round. Pass times of a fresh
    * JVM fall by a third over its first passes (JIT compilation); with the
    * set-up rounds' passes, these put the timed passes near the plateau,
    * where a run's median no longer depends on how far into the fall it
    * was taken.
    */
  def warmPasses: Int
  /** The operations whose seconds add up to `pass_s`. */
  def passOps: Seq[String]
  /** One pass with the ledger attached: the same operation seconds as
    * [[pass]], and it fills `layers`.
    */
  def tracedPass(led: Ledger): Map[String, Double]
  /** The correctness gates: an untimed pass over every timed path whose
    * output is checked in full. It is the cold set-up round's pass.
    */
  def gate(): Unit
  /** Probes that time single layers; fill `layers`. */
  def layerProbes(led: Ledger): Unit = ()
  def context: Map[String, Any] = Map.empty

  def execute(sessionS: Double): Map[String, Any] = {
    def round(untimed: => Any) = {
      val cpu0 = Main.cpuS()
      val (_, docsS) = secs(Inputs.writeDocuments(spark, o.seed, docsDir))
      val (in, synthS) = secs(synthesize())
      val (_, warmS) = secs(untimed)
      (in, Map("documents_s" -> docsS, "synthesis_s" -> synthS, "warmup_s" -> warmS,
        "cpu_s" -> (Main.cpuS() - cpu0)))
    }
    // the first set-up runs on a cold JIT and swings with the box's load
    // far more than the later ones; it is run context, like session start.
    // Its untimed pass is the gates' pass: every later round synthesizes
    // the same input from the same seed.
    val cold = round(gate())._2
    layers.clear() // the cold synthesis is not the layer's steady cost
    val warm = Seq.fill(warmPasses)(secs(pass())._2)
    Seq.fill(3)(Calibration.refS(o.cores)) // compiles the reference before it is timed
    // the reference work is timed between the warm rounds and between the
    // timed passes; each round or pass gets the mean of the two next to it
    var refBefore = Calibration.refS(o.cores)
    def ref(): Double = {
      val after = Calibration.refS(o.cores)
      val r = (refBefore + after) / 2
      refBefore = after
      r
    }
    val rounds = Seq.fill(SetupRounds) {
      val (in, m) = round(pass())
      (in, m + ("ref_s" -> ref()))
    }
    val (docsIn, bytesIn) = rounds.last._1
    /** Runs `pass` once; the result gains `pass_s`, `pass_cpu_s`,
      * `heap_live_mb` and `ref_s`.
      */
    def once(pass: => Map[String, Double]): Map[String, Double] = {
      val cpu0 = Main.cpuS()
      val m = pass
      val cpu = Main.cpuS() - cpu0
      m + ("pass_s" -> passOps.map(m).sum) + ("pass_cpu_s" -> cpu) +
        ("heap_live_mb" -> Heap.liveMb()) + ("ref_s" -> ref())
    }
    val n = passes(o.seconds, nominalPassS)
    val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
    def keep(ps: Seq[Map[String, Double]]): Unit =
      for (k <- ps.head.keys) samples(k) = ps.map(_(k))
    if (!o.trace) keep(Seq.fill(n)(once(pass())))
    else {
      // untraced and traced passes alternate, so that the drift of pass
      // times over a run cancels out of the tracing overhead
      val led = new Ledger(spark)
      val both = Seq.fill(tracedPairs(n)) {
        val untraced = once(pass())
        spark.sparkContext.addSparkListener(led)
        val traced = once(tracedPass(led))("pass_s")
        spark.sparkContext.removeSparkListener(led)
        (untraced, traced)
      }
      keep(both.map(_._1))
      samples("traced_pass_s") = both.map(_._2)
      spark.sparkContext.addSparkListener(led)
      layerProbes(led)
      spark.sparkContext.removeSparkListener(led)
    }
    Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "cores" -> o.cores,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "docs_in" -> docsIn, "bytes_in" -> bytesIn,
      "session_s" -> sessionS,
      "cold_setup" -> cold,
      "warm_passes_s" -> warm,
      "setup_rounds" -> rounds.map(_._2),
      "samples" -> samples,
      "heap_peak_mb" -> samples("heap_live_mb").max,
      "layers" -> layers.map { case (k, v) => k -> v.toSeq },
      "checks" -> checks.map(_.toMap).toSeq) ++ context
  }

  /** Spark-side layer values shared by every workload, from one window. */
  def sparkLayers(w: Window, wallS: Double): Unit = {
    layer("spark.task_s", w.taskS)
    layer("spark.gc_s", w.gcS)
    layer("spark.sched_floor_s", wallS - w.taskS / o.cores)
    layer("spark.partition_skew", w.dominantSkew)
  }

  def countLayers(w: Window): Unit = {
    layer("spark.jobs", w.jobs)
    layer("spark.stages", w.stages)
    layer("spark.tasks", w.tasks)
  }
}
