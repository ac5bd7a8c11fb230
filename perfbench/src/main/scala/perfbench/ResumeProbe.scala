package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.{ParquetIO, SyntheticPages, TableIO}
import graft.model.PipelineConf
import graft.pipeline.{Checkpoint, Extract}

/** The checkpoint cycle measured in `bulk_extract`'s traced run: on the
  * seeded sf0.1-shaped pages (one replica), `Checkpoint.run` commits into a
  * fresh directory through `ParquetIO`, resumes once with no change, then
  * resumes after the seed's drift ([[Inputs.drift]]: one of the 64 buckets
  * deleted, two re-crawled, three new URLs). Writes sit beside reads and
  * the drifted resume re-extracts a small pending set, so fixed per-job
  * cost weighs more here than in the bulk passes.
  *
  * Two cycles run: an untimed warm-up, then one with the ledger and a
  * [[TimingIO]] attached, whose seconds are also the `e2e.*` resume figures
  * (the listener and the wrapper only add bookkeeping per call). After every step the pending-bucket
  * count must be exact and the committed table must equal a fresh
  * extraction of the current input.
  */
final class ResumeProbe(w: Workload) {
  import Main.secs

  private val spark: SparkSession = w.spark
  val NumBuckets = 64
  val conf = PipelineConf(shufflePartitions = 2 * w.o.cores)
  private var cycle = 0

  private val pages0 = SyntheticPages.fromDocuments(spark, w.docsDir).persist()
  private val docs = pages0.count()
  private val drift = Inputs.drift(pages0, w.o.seed)
  private val pages1 = drift.pages.persist()
  // the gates' reference: a fresh extraction of each input version
  private val fresh0 = Gates.canonical(Extract.runNarrow(pages0).toDF()).persist()
  private val fresh1 = Gates.canonical(Extract.runNarrow(pages1).toDF()).persist()

  private def table(dir: String): DataFrame = ParquetIO.read(spark, Checkpoint.dataPath(dir))

  /** commit → no-op resume → drifted resume into a fresh directory; `step`
    * times each `Checkpoint.run`, and the gates run untimed after it.
    */
  private def runCycle(io: TableIO, step: (String, => Checkpoint.RunSummary) => Double)
      : Map[String, Double] = {
    cycle += 1
    val dir = s"${w.o.work}/resume/c$cycle"
    var summary: Checkpoint.RunSummary = null
    def run(label: String, pages: DataFrame, fresh: DataFrame, pending: Int): Double = {
      val s = step(label, {
        summary = Checkpoint.run(pages, dir, io, conf, s"$label-$cycle", NumBuckets); summary })
      w.checks += Gates.pendingBuckets(s"resume.$label.pending", summary.bucketsPending, pending)
      w.checks += Gates.sameTable(s"resume.$label.table", table(dir), fresh)
      s
    }
    // 5000 pages fill every one of the 64 buckets
    val commitS = run("commit", pages0, fresh0, NumBuckets)
    val noopS = run("resume_noop", pages0, fresh0, 0)
    val driftS = run("resume_drift", pages1, fresh1, drift.pendingBuckets)
    ResumeProbe.deleteTree(dir)
    Map("commit_s" -> commitS, "resume_noop_s" -> noopS, "resume_drift_s" -> driftS)
  }

  def run(led: Ledger): Unit = {
    runCycle(ParquetIO, (_, f) => secs(f)._2)
    val io = new TimingIO(ParquetIO, led)
    val m = runCycle(io, { (label, f) =>
      val rows0 = io.rowsWritten("overwritePartitions")
      val ((summary, win), s) = secs(led.window(f))
      label match {
        case "commit" => w.layer("io.bytes_written_mb", win.outputMb)
        case "resume_noop" => w.layer("pipeline.Checkpoint.resume_noop.jobs", win.jobs)
        case _ =>
          w.layer("pipeline.Checkpoint.resume_drift.jobs", win.jobs)
          w.layer("pipeline.Checkpoint.buckets_pending", summary.bucketsPending)
          // the wasted work: data rows the drifted resume rewrote, per row
          // the drift changed or added
          val rewritten = io.rowsWritten("overwritePartitions") - rows0
          w.layer("pipeline.Checkpoint.rows_reextracted_per_row_drifted",
            rewritten.toDouble / (drift.rowsChanged + drift.rowsAdded))
      }
      s
    })
    w.layer("e2e.commit_docs_per_s", docs / m("commit_s"))
    w.layer("e2e.resume_noop_s", m("resume_noop_s"))
    w.layer("e2e.resume_drift_s", m("resume_drift_s"))
    for (k <- Seq("write", "overwritePartitions", "readEvolving", "deletePartitions"))
      w.layer(s"io.TableIO.${k}_s", io.seconds(k))

    val (_, fpS) = secs(Checkpoint.fingerprints(pages1, NumBuckets).collect())
    w.layer("pipeline.Checkpoint.fingerprints_s", fpS)
    Seq(pages0, pages1, fresh0, fresh1).foreach(_.unpersist())
  }
}

object ResumeProbe {
  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(graft.io.PathGuard.checkWritable(dir))
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
  }
}
