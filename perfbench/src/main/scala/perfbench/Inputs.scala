package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.SyntheticPages
import graft.model.Page
import graft.pipeline.{Checkpoint, Kernel}

/** Seeded inputs. Every byte is a function of the seed.
  *
  * The documents table has the shape of the repository's sf0.1
  * `documents.parquet`: 5000 rows, 10 to 100 words drawn uniformly from a
  * 30-word vocabulary, languages en 41% and es/fr/zh/de about 15% each, and
  * 5% near-duplicates made by appending " dup" to another document's text
  * (two near-duplicates of one base are exact duplicates of each other, and
  * at least one such pair is planted).
  * The seed changes which words, lengths, languages and bases are drawn;
  * the shape, and so the work per document, stays the same. Smaller tables
  * keep that shape; the oracle gate's table is denser in near-duplicates
  * and shorter, because the d02 DuckDB oracle costs about 0.4 s per
  * 55-word document on four cores.
  */
object Inputs {
  val Vocab: Vector[String] = Vector("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  private def words(r: SplittableRandom, n: Int): String =
    Iterator.fill(n)(Vocab(r.nextInt(Vocab.length))).mkString(" ")

  private def lang(r: SplittableRandom): String = {
    val x = r.nextInt(100)
    if (x < 41) "en" else if (x < 56) "zh" else if (x < 71) "es" else if (x < 86) "fr" else "de"
  }

  final case class Shape(n: Int, dupShare: Double, minWords: Int, maxWords: Int)
  val Sf01 = Shape(5000, 0.05, 10, 100)
  val OracleGate = Shape(24, 0.25, 10, 20)

  def documents(seed: Long, shape: Shape): Vector[Doc] = {
    val r = new SplittableRandom(seed)
    val n = shape.n
    val base = Vector.tabulate(n)(i =>
      (words(r, shape.minWords + r.nextInt(shape.maxWords - shape.minWords + 1)), lang(r)))
    val dups = Iterator.continually(r.nextInt(n)).distinct.take((n * shape.dupShare).toInt).toSet
    val bases = (0 until n).filterNot(dups)
    val dupIds = dups.toVector.sorted
    val drawn = dupIds.map(_ => bases(r.nextInt(bases.length)))
    // the last near-duplicate repeats the first one's base, so every table
    // has at least one exact-duplicate group
    val baseOf = dupIds.zip(if (drawn.size > 1) drawn.init :+ drawn.head else drawn).toMap
    Vector.tabulate(n) { i =>
      val text = baseOf.get(i).map(b => base(b)._1 + " dup").getOrElse(base(i)._1)
      Doc(i.toLong, text, base(i)._2, s"src${i % 20}", text.length.toLong)
    }
  }

  /** Writes the documents table as `<dir>/documents.parquet` (one file). */
  def writeDocuments(spark: SparkSession, seed: Long, dir: String, shape: Shape = Sf01): Unit = {
    import spark.implicits._
    documents(seed, shape).toDS().coalesce(1).write.mode("overwrite")
      .parquet(graft.io.PathGuard.checkWritable(s"$dir/documents.parquet"))
  }

  def docId(url: String): Long = url.substring(url.lastIndexOf('/') + 1).toLong

  /** A drifted copy of `pages` for the resume workload: one bucket deleted,
    * every HTML page of two other buckets re-crawled with new content, and
    * `newUrls` new HTML pages, each in a bucket of its own that is neither
    * deleted nor changed. So exactly `2 + newUrls` of the 64 buckets differ
    * from the committed input, whatever the seed.
    */
  final case class Drift(pages: DataFrame, deleted: Set[Int], changed: Set[Int],
                         added: Set[Int], rowsChanged: Long, rowsAdded: Long) {
    def pendingBuckets: Int = (changed ++ added).size
  }

  def drift(pages: DataFrame, seed: Long, newUrls: Int = 3, numBuckets: Int = 64): Drift = {
    val spark = pages.sparkSession
    import spark.implicits._
    val r = new SplittableRandom(seed * 7919L + 17L)
    val order = new scala.util.Random(r.nextLong()).shuffle((0 until numBuckets).toVector)
    val deleted = Set(order(0))
    val changed = Set(order(1), order(2))
    // new HTML documents far above the corpus id range; keep the first ones
    // whose buckets are untouched and distinct
    val candidates = Iterator.continually(100000000L + r.nextInt(1000000000))
      .filter(id => !SyntheticPages.isPdfDoc(id)).take(400).toVector.distinct
    val bucketOf = candidates.map(SyntheticPages.urlOf).toDF("url")
      .select(col("url"), Checkpoint.bucketCol(col("url"), numBuckets))
      .as[(String, Int)].collect().toMap
    val fresh = candidates.iterator.map(id => (id, bucketOf(SyntheticPages.urlOf(id))))
      .foldLeft(Vector.empty[(Long, Int)]) { case (acc, (id, b)) =>
        if (acc.size < newUrls && !deleted(b) && !changed(b) && !acc.exists(_._2 == b))
          acc :+ (id -> b) else acc
      }
    require(fresh.size == newUrls, "could not place the new URLs in distinct buckets")
    val wr = new SplittableRandom(seed)
    val added = fresh.map { case (id, _) =>
      val s = SyntheticPages.pageFor(id, words(wr, 40 + wr.nextInt(20)), "en")
      Page(s.url, new java.sql.Timestamp(s.tsMillis), s.payload, s.golden, s.lang)
    }
    val bucket = Checkpoint.bucketCol(col("url"), numBuckets)
    val changedB = changed.toSeq
    val isChanged = bucket.isin(changedB: _*) &&
      substring(col("html"), 1, Kernel.PdfMagic.length) =!= lit(Kernel.PdfMagic)
    val recrawl = pages.where(isChanged).as[Page].map { p =>
      val id = docId(p.url)
      val words0 = p.text.split("\\s+").filter(_.nonEmpty)
      val s = SyntheticPages.pageFor(id, ("recrawl" +: words0.reverse.toSeq).mkString(" "), p.lang)
      Page(s.url, p.warc_ts, s.payload, s.golden, s.lang)
    }.toDF()
    val kept = pages.where(!bucket.isin(deleted.toSeq: _*))
    val out = kept.where(!isChanged)
      .unionByName(recrawl)
      .unionByName(added.toDF())
    val rowsChanged = pages.where(isChanged).count()
    Drift(out, deleted, changed, fresh.map(_._2).toSet, rowsChanged, newUrls.toLong)
  }
}
