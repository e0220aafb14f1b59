package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One generated row: a 12-token document over a fixed vocabulary, a
  * clustered 64-d embedding, a per-batch monotone `ts` and an int label.
  */
final case class Doc(id: Long, text: String, emb: Array[Float], ts: Long, label: Int)

/** Seeded input generator. Everything the engine sees comes from here,
  * so one seed gives the same tables, batches and queries every run.
  */
final class Corpus(seed: Long) {
  import Corpus._

  private val rng = new java.util.Random(seed)

  /** Zipf-like term draw (s = 0.8): posting lists of very different
    * lengths, as in real text.
    */
  private val termCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(i => 1.0 / math.pow(i + 1, 0.8))
    val total = w.sum
    w.scanLeft(0.0)(_ + _ / total).tail
  }

  private val centers: Array[Array[Float]] =
    Array.fill(Clusters)(Array.fill(Dim)((rng.nextGaussian() * 1.0).toFloat))

  def term(r: java.util.Random): String = {
    val i = java.util.Arrays.binarySearch(termCdf, r.nextDouble())
    Vocab(math.min(if (i >= 0) i else -i - 1, VocabSize - 1))
  }

  private def freshText(r: java.util.Random): Array[String] = Array.fill(Tokens)(term(r))

  private def freshEmb(r: java.util.Random): Array[Float] = {
    val c = centers(r.nextInt(Clusters))
    Array.tabulate(Dim)(d => c(d) + (r.nextGaussian() * Spread).toFloat)
  }

  /** A near-copy: 1 or 2 tokens replaced, the vector nudged by tiny noise. */
  private def nearText(src: String, r: java.util.Random): String = {
    val toks = src.split(" ")
    val edits = 1 + r.nextInt(2)
    for (_ <- 0 until edits) toks(r.nextInt(Tokens)) = term(r)
    toks.mkString(" ")
  }

  private def nearEmb(src: Array[Float], r: java.util.Random): Array[Float] =
    src.map(v => v + (r.nextGaussian() * DupNoise).toFloat)

  /** `n` rows with ids `firstId ...`, all stamped into the `ts` slice of
    * `batchNo`. A `textDupShare` of rows are in-batch text near-copies of
    * an earlier row of the batch (their vectors are fresh); a
    * `vecDupShare` are near-copies (text and vector) of a row of `history`.
    * Near-copies are made of originals only, so duplicates never chain.
    */
  def batch(batchNo: Int, firstId: Long, n: Int, textDupShare: Double = 0.0,
            vecDupShare: Double = 0.0, history: IndexedSeq[Doc] = IndexedSeq.empty)
      : IndexedSeq[Doc] = {
    val r = new java.util.Random(seed * 1000003L + batchNo)
    val out = new scala.collection.mutable.ArrayBuffer[Doc](n)
    val originals = new scala.collection.mutable.ArrayBuffer[Int]()
    for (i <- 0 until n) {
      val id = firstId + i
      val ts = TsBase + batchNo.toLong * TsSlice + i
      val label = r.nextInt(Labels)
      val u = r.nextDouble()
      val doc =
        if (u < textDupShare && originals.nonEmpty) {
          val src = out(originals(r.nextInt(originals.size)))
          Doc(id, nearText(src.text, r), freshEmb(r), ts, label)
        } else if (u < textDupShare + vecDupShare && history.nonEmpty) {
          val src = history(r.nextInt(history.size))
          Doc(id, nearText(src.text, r), nearEmb(src.emb, r), ts, label)
        } else {
          originals += i
          Doc(id, freshText(r).mkString(" "), freshEmb(r), ts, label)
        }
      out += doc
    }
    out.toIndexedSeq
  }

  /** Query vectors drawn near the clusters. */
  def vectorQueries(n: Int): IndexedSeq[Array[Float]] = {
    val r = new java.util.Random(seed * 7919L + 17)
    IndexedSeq.fill(n)(freshEmb(r))
  }
}

object Corpus {
  val VocabSize = 2000
  val Vocab: Array[String] = Array.tabulate(VocabSize)(i => f"w$i%04d")
  val Tokens = 12
  val Dim = 64
  val Clusters = 32
  val Spread = 0.3
  val DupNoise = 0.001
  val Labels = 10
  val TsBase = 1700000000000L
  val TsSlice = 1000000L

  /** Text queries of the three `containsPredicate` shapes: one term, two
    * terms (AND), two alternatives (OR). Terms are picked by frequency
    * rank, so every seed's queries have posting lists of the same sizes;
    * the head of the distribution is left out, where a query would
    * measure result transfer rather than the index.
    */
  def textQueries(n: Int): IndexedSeq[String] = {
    def mid(j: Int): String = Vocab(20 + (j * 37) % 400)
    IndexedSeq.tabulate(n) { i =>
      i % 3 match {
        case 0 => mid(i)
        case 1 => s"${Vocab(i % 20)} ${mid(i)}"
        case _ => s"${mid(i)} || ${mid(i + 7)}"
      }
    }
  }

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("emb", ArrayType(FloatType)),
    StructField("ts", LongType),
    StructField("label", IntegerType)))

  /** A batch as a DataFrame, split into `parts` partitions (= files). */
  def toDF(spark: SparkSession, docs: Seq[Doc], parts: Int): DataFrame = {
    val rows = docs.map(d => Row(d.id, d.text, d.emb.toSeq, d.ts, d.label))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
  }

  /** Exact squared-L2 top-k distances over `docs` (probe everything). */
  def exactTopK(docs: Seq[Doc], q: Array[Float], k: Int): Array[Double] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[Double]
    for (d <- docs) {
      var s = 0.0
      var i = 0
      while (i < Dim) { val x = d.emb(i).toDouble - q(i); s += x * x; i += 1 }
      if (heap.size < k) heap.enqueue(s)
      else if (s < heap.head) { heap.dequeue(); heap.enqueue(s) }
    }
    heap.toArray.sorted
  }
}
