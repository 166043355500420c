package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.synth.Synth.{rnd, unif}

/** Seeded curation corpus: (doc_id, text, lang, source, batch).
  *
  * Documents come in families of ten inside one (lang, source) cell, built
  * from four independent texts A (member 0), B (3), C (5) and D (7):
  *   - members 1 and 9 are exact copies of A and C (exact tier);
  *   - members 2 and 6 are near copies of A and C (near tier, see
  *     [[nearCopy]]);
  *   - members 4 and 8 are the first halves of B and D, so all of their
  *     distinct tokens occur in the whole text (contained tier).
  * Docs take their fold batch ([[Workload.batchOf]]) from a seeded
  * permutation of the ids, so family members land on both sides of the
  * standing/batch split: a batch duplicates, contains or is contained in
  * standing docs.
  */
object DocGen {
  private val Vocab = 20000

  private def token(seed: Long, doc: Long, j: Int): String = {
    // squared uniform: a few frequent tokens, a long tail of rare ones
    val u = unif(seed, 101L, doc, j.toLong)
    f"word${(u * u * Vocab).toInt}%06d"
  }

  private def baseTokens(seed: Long, doc: Long): Array[String] = {
    val len = 40 + java.lang.Math.floorMod(rnd(seed, 103L, doc), 60L).toInt
    Array.tabulate(len)(j => token(seed, doc, j))
  }

  /** Every fifth token glued to its successor: a fifth of the token set
    * changes, so neither copy holds 80% of the other's distinct tokens (not
    * containment), while only the shingles around each removed space
    * change (5-char-shingle Jaccard about 0.8, caught by the 8x8 bands). */
  private def nearCopy(of: Array[String]): Array[String] =
    of.grouped(5).flatMap(g => if (g.length > 1) (g(0) + g(1)) +: g.drop(2) else g).toArray

  def text(seed: Long, doc: Long): String = {
    val fam = doc / 10 * 10
    def base(m: Int) = baseTokens(seed, fam + m)
    val toks = (doc % 10).toInt match {
      case 1 => base(0)
      case 2 => nearCopy(base(0))
      case 4 => { val b = base(3); b.take(b.length / 2) }
      case 6 => nearCopy(base(5))
      case 8 => { val b = base(7); b.take(b.length / 2) }
      case 9 => base(5)
      case _ => baseTokens(seed, doc)
    }
    toks.mkString(" ")
  }

  def docs(spark: SparkSession, nDocs: Long, seed: Long, batchSize: Int): DataFrame = {
    import spark.implicits._
    val batchOf = new Array[Int](nDocs.toInt)
    (0L until nDocs).sortBy(d => rnd(seed, 113L, d)).zipWithIndex.foreach { case (d, r) =>
      batchOf(d.toInt) = Workload.batchOf(r, nDocs, batchSize)
    }
    spark.range(0, nDocs, 1, 8).map { d =>
      val cell = java.lang.Math.floorMod(rnd(seed, 109L, d / 10), 8L).toInt
      (d.longValue, text(seed, d), if (cell < 2) "de" else "en", "src" + (cell % 4),
        batchOf(d.toInt))
    }.toDF("doc_id", "text", "lang", "source", "batch")
  }
}
