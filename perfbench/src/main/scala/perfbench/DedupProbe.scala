package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.SparkEntry
import graft.ops.Dedup

/** The dedup/curation layers, measured in `scan_ocr`'s traced run: the
  * d01–d07, t05 and t09 query bodies of `SparkEntry` over a seeded
  * documents table with the sf0.1 shape at [[DedupProbe.Docs]] rows.
  * `ops.Dedup`, `ops.Curation` and `ops.ParaDedup` do all the work, in
  * many small shuffle jobs; the extraction kernel does none.
  *
  * One untimed pass, then one pass with the ledger attached, which must
  * return the same rows; per query it records seconds, jobs and shuffle
  * MiB, and the d04/d06 candidate pairs against the pairs verified. The
  * DuckDB oracle gate in `run.py` checks every query on a small seeded
  * table of its own ([[Inputs.OracleGate]]), whose results [[gate]]
  * writes as Parquet.
  *
  * A pass takes about ten seconds, nearly all of it fixed per-job cost
  * and query compilation that is still going on after four passes, and
  * it swings by half with the load on the box; so it is not a timed
  * workload of its own.
  */
final class DedupProbe(w: Workload) {
  import Main.secs

  private val spark = w.spark
  private val docsDir = s"${w.o.work}/dedup-docs"
  private val outDir = s"${w.o.work}/dedup-out"
  private val gateDir = s"${w.o.work}/gate-docs"
  private val digests = scala.collection.mutable.Map.empty[String, String]
  private val rowCounts = scala.collection.mutable.Map.empty[String, Long]

  /** What `run.py` needs for the oracle gate. */
  def oracle: Map[String, Any] = Map(
    "documents" -> s"$gateDir/documents.parquet",
    "outputs" -> DedupProbe.Queries.map(q => q -> s"$outDir/$q").toMap,
    "sql" -> DedupProbe.Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Runs one query to completion; returns its rows. The queries persist
    * scratch, so the cache is cleared after each.
    */
  private def runQuery(q: String): Array[Row] = {
    val rows = SparkEntry.queries(q)(spark, docsDir).collect()
    spark.catalog.clearCache()
    rows
  }

  def run(led: Ledger): Unit = {
    Inputs.writeDocuments(spark, w.o.seed, docsDir, Inputs.Sf01.copy(n = DedupProbe.Docs))
    for (q <- DedupProbe.Queries) {
      val rows = runQuery(q)
      digests(q) = digest(rows)
      rowCounts(q) = rows.length
    }
    val seconds = DedupProbe.Queries.map { q =>
      val ((rows, win), s) = secs(led.window(runQuery(q)))
      val name = DedupProbe.layerName(q)
      w.layer(s"${name}_s", s)
      w.layer(s"$name.jobs", win.jobs)
      w.layer(s"$name.shuffle_mb", win.shuffleWriteMb)
      val same = digest(rows) == digests(q)
      w.checks += Check(s"dedup_curate.$q.repeat", 1, if (same) 0 else 1,
        s"${rows.length} rows; same rows as the untimed pass: $same")
      q -> s
    }.toMap
    w.layer("e2e.dedup_set_s", seconds.collect { case (q, s) if q.startsWith("d") => s }.sum)
    w.layer("e2e.curate_s", seconds("t05_curation") + seconds("t09_paragraph_dedup"))
    candidates()
    gate()
  }

  /** Candidate pairs the d04 and d06 verify joins attempt, against the
    * pairs they confirm: the useful share of the verify work.
    */
  private def candidates(): Unit = {
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
    val sc = Dedup.shingleSigSets(docs, "doc_id", "text").persist()
    val banded = Dedup.bandedPairs(sc.select("id", "sig"))
    val d04 = banded.count()
    val d06 = banded.unionAll(Dedup.sampledShingleCandidatesFromSets(sc.select("id", "sh"),
      distinctPairs = false)).distinct().count()
    spark.catalog.clearCache()
    for ((q, cand) <- Seq("d04_ngram_verified_dups" -> d04, "d06_containment" -> d06)) {
      val name = DedupProbe.layerName(q)
      w.layer(s"$name.candidates", cand.toDouble)
      w.layer(s"$name.verified", rowCounts(q).toDouble)
      w.layer(s"$name.verified_per_candidate", if (cand == 0) 0.0 else rowCounts(q).toDouble / cand)
    }
  }

  /** Every query over the oracle gate's table; the results go to Parquet,
    * which `run.py` compares with the DuckDB oracles. Nearly all of it is
    * fixed per-job cost, so three queries run at a time.
    */
  private def gate(): Unit = {
    Inputs.writeDocuments(spark, w.o.seed, gateDir, Inputs.OracleGate)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val done = DedupProbe.Queries.map { q =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val df = SparkEntry.queries(q)(spark, gateDir)
            spark.createDataFrame(df.collect().toSeq.asJava, df.schema).coalesce(1)
              .write.mode("overwrite").parquet(graft.io.PathGuard.checkWritable(s"$outDir/$q"))
          }
        })
      }
      done.foreach(_.get())
    } finally pool.shutdown()
    spark.catalog.clearCache()
  }
}

object DedupProbe {
  val Docs = 400

  val Queries: Seq[String] = Seq("d01_exact_dup_groups", "d02_minhash_pairs",
    "d03_simhash_pairs", "d04_ngram_verified_dups", "d05_dup_clusters", "d06_containment",
    "d07_incremental_dups", "t05_curation", "t09_paragraph_dedup")

  /** `<module>.<query>`: the ops module whose public functions the query calls. */
  def layerName(q: String): String = {
    val short = q.take(3)
    if (q.startsWith("t05")) s"ops.Curation.$short"
    else if (q.startsWith("t09")) s"ops.ParaDedup.$short"
    else s"ops.Dedup.$short"
  }
}
