package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{MinHash, NormWs, ShingleHash, SimHash}

/** Microbenchmark of the text kernels behind the `functions` module's
  * native expressions (`NormWsExpr`, `ShingleHashesExpr`, `MinHashExpr`,
  * `SimHash64Expr`), called directly on the sf0.1 `documents.text` column
  * (lower-cased, as the pipeline queries feed them).
  */
object Kernels {
  private def timeNs(reps: Int)(body: => Unit): Double = {
    val ts = (1 to reps).map { _ =>
      val t = System.nanoTime(); body; (System.nanoTime() - t).toDouble
    }
    Trace.median(ts)
  }

  /** Median time of one sweep over the corpus, after ~300 ms of warm-up. */
  private def sweep(body: => Unit): Double = {
    val until = System.nanoTime() + 300L * 1000 * 1000
    while (System.nanoTime() < until) body
    timeNs(7)(body)
  }

  def run(spark: SparkSession, sf01: String): Map[String, Double] = {
    val texts = graft.engine.Tables.load(spark, sf01, "documents").select("text")
      .collect().map(r => Option(r.getString(0)).getOrElse("").toLowerCase)
    val utf = texts.map(UTF8String.fromString)
    val bytes = utf.map(_.numBytes().toLong).sum.toDouble
    val norm = utf.map(NormWs.collapse)
    val normStr = norm.map(_.toString)
    val normBytes = norm.map(_.getBytes)
    val shingles = normStr.map(ShingleHash.compute(_, 3))
    var sink = 0L
    val collapse = sweep(utf.foreach(u => sink += NormWs.collapse(u).numBytes()))
    val words = sweep(utf.foreach(u => sink += NormWs.words(u).numElements()))
    val shingle = sweep(normStr.foreach(s => sink += ShingleHash.compute(s, 3).length))
    val minhash = sweep(shingles.foreach(h => sink += MinHash.compute(h, 16)(0)))
    val simhash = sweep(normBytes.foreach(b => sink += SimHash.compute(b)))
    // the sink is read once, so the JIT cannot drop the kernel calls
    if (sink == 42L) println("")
    val docs = texts.length.toDouble
    Map(
      "functions.norm_ws_ns_per_byte" -> collapse / bytes,
      "functions.norm_ws_words_ns_per_byte" -> words / bytes,
      "functions.shingle_ns_per_doc" -> shingle / docs,
      "functions.minhash_ns_per_doc" -> minhash / docs,
      "functions.simhash_ns_per_doc" -> simhash / docs)
  }
}
