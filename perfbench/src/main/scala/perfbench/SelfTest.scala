package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.io.{ParquetIO, SyntheticPages}
import graft.model.PipelineConf
import graft.pipeline.{Checkpoint, Extract}

/** Shows that the JVM-side gates pass on correct output and fail on output
  * broken in one place: one flipped text character, one pending bucket
  * left un-extracted. Each case reports the gate's failed count and whether
  * it should be zero.
  */
object SelfTest {
  def run(spark: SparkSession, o: Main.Opts): Map[String, Any] = {
    val docsDir = s"${o.work}/docs"
    Inputs.writeDocuments(spark, 1L, docsDir)
    val pages0 = SyntheticPages.fromDocuments(spark, docsDir).persist()
    val cases = Seq.newBuilder[(String, Boolean, Check)]

    val extracted = Extract.runNarrow(pages0).toDF().persist()
    cases += (("bulk golden gate, correct output", false,
      Gates.bulk("bulk", extracted, pages0)))
    val victim = extracted.where(col("status") === "processed" && length(col("text")) > 0)
      .select("url").orderBy("url").first().getString(0)
    val flipped = extracted.withColumn("text",
      when(col("url") === victim,
        concat(when(substring(col("text"), 1, 1) === "#", lit("$")).otherwise(lit("#")),
          expr("substring(text, 2)")))
        .otherwise(col("text")))
    cases += (("bulk golden gate, one flipped text character", true,
      Gates.bulk("bulk", flipped, pages0)))

    val dir = s"${o.work}/selftest-resume"
    ResumeProbe.deleteTree(dir)
    val conf = PipelineConf(shufflePartitions = 2 * o.cores)
    Checkpoint.run(pages0, dir, ParquetIO, conf, "commit")
    val drift = Inputs.drift(pages0, 1L)
    val pages1 = drift.pages.persist()
    val summary = Checkpoint.run(pages1, dir, ParquetIO, conf, "drift")
    val fresh1 = Gates.canonical(Extract.runNarrow(pages1).toDF()).persist()
    val table = ParquetIO.read(spark, Checkpoint.dataPath(dir))
    cases += (("resume pending count, correct resume", false,
      Gates.pendingBuckets("pending", summary.bucketsPending, drift.pendingBuckets)))
    cases += (("resume table, correct resume", false, Gates.sameTable("table", table, fresh1)))
    // a resume that skipped one pending bucket: its rows keep the committed,
    // pre-drift extraction, and it reports one bucket fewer
    val skipped = drift.changed.min
    val bucket = Checkpoint.bucketCol(col("url"), 64)
    val stale = table.where(col("bucket") =!= skipped).drop("bucket")
      .unionByName(Extract.runNarrow(pages0.where(bucket === skipped)).toDF())
    cases += (("resume pending count, one skipped pending bucket", true,
      Gates.pendingBuckets("pending", summary.bucketsPending - 1, drift.pendingBuckets)))
    cases += (("resume table, one skipped pending bucket", true,
      Gates.sameTable("table", stale, fresh1)))
    ResumeProbe.deleteTree(dir)

    // dedup: one query's output as the oracle gate sees it, whole and with
    // one pair dropped; run.py compares both with the DuckDB oracle
    val gateDir = s"${o.work}/gate-docs"
    Inputs.writeDocuments(spark, 1L, gateDir, Inputs.OracleGate)
    val q = "d04_ngram_verified_dups"
    val rows = graft.SparkEntry.queries(q)(spark, gateDir).collect()
    spark.catalog.clearCache()
    val schema = graft.SparkEntry.queries(q)(spark, gateDir).schema
    spark.catalog.clearCache()
    def write(name: String, rs: Seq[org.apache.spark.sql.Row]): String = {
      val path = s"${o.work}/selftest-dedup/$name"
      spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rs).asJava, schema)
        .coalesce(1).write.mode("overwrite").parquet(graft.io.PathGuard.checkWritable(path))
      path
    }
    require(rows.length > 1, s"$q found no pairs on the gate table")
    val oracle = Map("documents" -> s"$gateDir/documents.parquet", "query" -> q,
      "sql" -> graft.SparkEntry.oracleSql(q),
      "whole" -> write("whole", rows.toSeq), "one_pair_dropped" -> write("dropped", rows.toSeq.tail))

    Map("oracle_selftest" -> oracle, "selftest" -> cases.result().map { case (name, shouldFail, c) =>
      Map("case" -> name, "should_fail" -> shouldFail, "failed" -> c.failed,
        "attempted" -> c.attempted, "detail" -> c.detail,
        "ok" -> (if (shouldFail) c.failed > 0 else c.failed == 0))
    })
  }
}
