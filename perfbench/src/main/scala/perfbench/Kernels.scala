package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{MinHash, NormWs, ShingleHash, SimHash}

/** Microbenchmarks of the public `graft.functions` kernels on the
  * workload's own `documents` text, called directly (no Spark plan).
  */
object Kernels {
  // The shingle width and signature length the dedup queries use.
  private val ShingleWidth = 3
  private val MinHashLength = 16
  // Every kernel result feeds this volatile field, so none is dead code.
  @volatile private var sink = 0L

  /** Rate of `body` over `units` units of work: runs it until `seconds`
    * are spent (at least three times) and returns the median rate.
    */
  private def rate(units: Double, seconds: Double)(body: => Unit): Double = {
    body // warm-up
    val rates = scala.collection.mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (rates.length < 3 || System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      body
      rates += units / ((System.nanoTime() - t0) / 1e9)
    }
    rates.sorted.apply(rates.length / 2)
  }

  def run(spark: SparkSession, dataDir: String, seconds: Double): Map[String, Double] = {
    val texts = spark.read.parquet(s"$dataDir/documents.parquet").select("text")
      .collect().map(_.getString(0)).filter(_ != null)
    val utf8 = texts.map(t => UTF8String.fromString(t.toLowerCase(java.util.Locale.ROOT)))
    val mb = utf8.map(_.numBytes().toLong).sum / 1e6
    val normalized = utf8.map(NormWs.collapse)
    val normStrings = normalized.map(_.toString)
    val normBytes = normalized.map(_.getBytes)
    val normMb = normBytes.map(_.length.toLong).sum / 1e6
    val shingles = normStrings.map(ShingleHash.compute(_, ShingleWidth))
    val each = seconds / 4
    Map(
      "norm_ws_mb_s" -> rate(mb, each) {
        utf8.foreach { u => sink += NormWs.collapse(u).numBytes(); sink += NormWs.words(u).numElements() }
      },
      "shingle_mb_s" -> rate(normMb, each) {
        normStrings.foreach(s => sink += ShingleHash.compute(s, ShingleWidth).length)
      },
      "minhash_sets_s" -> rate(shingles.length.toDouble, each) {
        shingles.foreach(h => sink += MinHash.compute(h, MinHashLength)(0))
      },
      "simhash_mb_s" -> rate(normMb, each) {
        normBytes.foreach(b => sink += SimHash.compute(b))
      })
  }
}
