package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.format.GraftDataset
import graft.operators.{Dedup, FilterVectorized}
import graft.streaming.GraftStreaming

/** Output checks. A failed check never stops the run; it makes the run
  * incorrect, which the result line and the exit code both carry.
  */
final class Checks {
  val failures = ArrayBuffer.empty[String]
  var passed = 0L
  def apply(ok: Boolean, what: => String): Unit =
    if (ok) passed += 1
    else {
      failures += what
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }
}

/** A closed-loop workload with one client thread: `setup` builds its
  * state, `cycle` runs one fixed sequence of public calls and checks
  * their outputs.
  */
abstract class Workload(val spark: SparkSession, val r: Recorder,
                        val corpus: Corpus, val checks: Checks, val dir: String) {
  def name: String
  /** Seconds per cycle when sizing a run: `--seconds` buys
    * `round(seconds / nominalCycleS)` cycles. A sizing constant, never
    * measured against.
    */
  def nominalCycleS: Double
  def setup(): Unit
  def cycle(i: Int): Unit
  /** The table whose on-disk size `bytes_per_user_byte` reports. */
  def tableRoot: String
  def table: GraftDataset
  /** Facts read after the measured cycles (engine counts, accuracy). */
  def finish(): Map[String, Double] = Map.empty

  protected def rootOf(what: String) = s"$dir/$what"

  protected def appendCommit(ds: GraftDataset, df: DataFrame, msg: String): String = {
    r.op("append", "format.append")(ds.append(df))
    r.op("commit", "format.commit")(ds.commit(msg))
  }

  protected def load(root: String): GraftDataset =
    r.span("format.load")(GraftDataset.load(spark, root))
}

object Workload {
  /** Order-independent content checksum: row count and the sum of per-row
    * hashes (reduced mod a prime, so the sum cannot overflow).
    */
  def checksum(df: DataFrame): (Long, Long) = {
    val row = df.select(count(lit(1)),
      coalesce(sum(pmod(xxhash64(col("id"), col("text"), col("emb"), col("ts"),
        col("label")), lit(2147483647L))), lit(0L))).head()
    (row.getLong(0), row.getLong(1))
  }

  def ids(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet
}

/** Read path, no writes: a fixed table built over many commits with
  * fresh, unpinned indexes, queried by a seeded mix.
  */
final class QueryMix(spark: SparkSession, r: Recorder, corpus: Corpus,
                     checks: Checks, dir: String)
    extends Workload(spark, r, corpus, checks, dir) {
  val name = "query_mix"
  val nominalCycleS = 2.7
  val commits = 6
  val batchRows = 6000
  /** Files per commit: a one-batch `ts` range can skip all but these. */
  val filesPerCommit = 8
  val nlist = 32
  val shards = 8
  val k = 10
  val poolSize = 8

  var table: GraftDataset = _
  var tableRoot = ""
  private var docs: IndexedSeq[Doc] = IndexedSeq.empty
  private val commitIds = ArrayBuffer.empty[String]
  private val textPool = Corpus.textQueries(24)
  private val vecPool = corpus.vectorQueries(poolSize)
  private var truth: IndexedSeq[Array[Double]] = IndexedSeq.empty
  val ScanCheckEvery = 2
  private val textCalls = mutable.Map("text_search" -> 0, "filter_indexed" -> 0)
  /** Calls of each text kind whose ids were compared with the scan. */
  val scanChecked = mutable.Map("text_search" -> 0, "filter_indexed" -> 0)
  /** Recall of each pool query at its first evaluation. */
  private val recall = mutable.Map.empty[Int, Double]
  var hits = 0L
  var staleFallbacks = 0L

  def setup(): Unit = {
    tableRoot = rootOf("table")
    commitIds.clear()
    val ds = GraftDataset.create(spark, tableRoot, Corpus.schema)
    val all = ArrayBuffer.empty[Doc]
    for (c <- 0 until commits) {
      val b = corpus.batch(c, c.toLong * batchRows, batchRows)
      all ++= b
      commitIds += appendCommit(ds, Corpus.toDF(spark, b, filesPerCommit), s"batch $c")
    }
    r.span("inverted.create")(ds.createIndexVectorized("text", shards))
    r.span("vector.create")(ds.createVectorIndex("emb", nlist, metric = "l2"))
    docs = all.toIndexedSeq
    // exact ground truth: every row scored, once
    truth = vecPool.map(q => Corpus.exactTopK(docs, q, k))
    table = load(tableRoot) // a fresh handle: nothing pinned
  }

  /** A stale index is never queried: `textSearch` would fall back to a
    * scan and read as a latency change. The call is refused instead, which
    * fails an output check and leaves its cycle untimed.
    */
  private def fresh(kind: String): Boolean = {
    val column = if (kind == "vector") "emb" else "text"
    val ok = table.indexFresh(kind, column)
    if (!ok) {
      if (kind == "inverted") staleFallbacks += 1
      r.refuse(kind)
      checks(false, s"$name: the $kind index on $column is stale; the call was refused")
    }
    ok
  }

  /** Every other call of each text kind, from its first, is compared with
    * the scan the index replaces.
    */
  private def textOp(kind: String, span: String, q: String)(run: => DataFrame): Unit =
    if (fresh("inverted")) {
      val got = r.op(kind, span)(Workload.ids(run))
      if (r.measuring) hits += got.size
      val n = textCalls(kind)
      textCalls(kind) = n + 1
      if (n % ScanCheckEvery == 0) {
        val want = Workload.ids(table.toDF.filter(
          FilterVectorized.containsPredicate(col("text"), q)))
        checks(got == want, s"$name: $kind('$q') returned ${got.size} ids, scan has ${want.size}")
        scanChecked(kind) += 1
      }
    }

  private def vectorOp(qi: Int): Unit =
    if (fresh("vector")) {
      val q = vecPool(qi)
      val scores = r.op("vector_topk", "vector.search")(
        table.vectorSearch("emb", q.toSeq, k, metric = "l2")
          .select("score").collect().map(_.getDouble(0)))
      checks(scores.length == k, s"$name: vectorSearch returned ${scores.length} rows")
      if (!recall.contains(qi)) recall(qi) = recallOf(qi, scores)
    }

  /** Hits at or inside the exact k-th distance, over k. */
  private def recallOf(qi: Int, scores: Array[Double]): Double = {
    val kth = truth(qi).last
    scores.count(_ <= kth * (1 + 1e-5) + 1e-9).toDouble / k
  }

  def cycle(i: Int): Unit = {
    // every run walks the same sequence of query shapes and sizes; the
    // seed changes the data they run on
    val q1 = textPool(Math.floorMod(2 * i, textPool.size))
    val q2 = textPool(Math.floorMod(2 * i + 1, textPool.size))
    textOp("text_search", "inverted.search", q1)(table.textSearch("text", q1))
    vectorOp(Math.floorMod(2 * i, poolSize))
    textOp("filter_indexed", "inverted.filter_indexed", q2)(table.filterIndexed("text", q2))
    // a selective ts range: one batch's slice
    val b = Math.floorMod(i, commits)
    val lo = Corpus.TsBase + b * Corpus.TsSlice
    val cnt = r.op("range_scan", "format.scan")(
      spark.read.format("graft").load(tableRoot)
        .filter(col("ts") >= lo && col("ts") < lo + Corpus.TsSlice).count())
    checks(cnt == batchRows, s"$name: ts range of batch $b counted $cnt")
    vectorOp(Math.floorMod(2 * i + 1, poolSize))
    // an older commit: one of the first three quarters of the history
    val c = Math.floorMod(i, math.max(1, commits * 3 / 4))
    val rows = r.op("time_travel", "format.snapshot")(table.snapshotAt(commitIds(c)).count())
    checks(rows == (c + 1).toLong * batchRows,
      s"$name: snapshot at commit $c counted $rows")
  }

  override def finish(): Map[String, Double] = {
    // pool queries the measured cycles did not reach, untimed
    for (qi <- 0 until poolSize if !recall.contains(qi)) vectorOp(qi)
    for ((kind, n) <- scanChecked)
      checks(n > 0, s"$name: no $kind call was compared with the scan")
    Map("inverted.hits" -> hits.toDouble,
      "inverted.stale_fallbacks" -> staleFallbacks.toDouble,
      "vector.recall_at_10" -> Stats.mean(recall.values.toSeq))
  }
}

/** Write path, two tables under one client. The raw table takes every
  * batch as it arrives (append + commit), then loses the duplicates
  * curation found (pop) and has part of the batch relabeled (update), and
  * a change-feed replica of it is drained with `Trigger.AvailableNow` on a
  * persistent checkpoint. The curated table is versioned: each batch is
  * deduplicated on a fresh branch (MinHash-LSH over the text, a k-NN join
  * against the pinned vector index), only the survivors land there, the
  * branch is diffed against `main`, merged back and deleted, and both
  * indexes of `main` are refreshed. Merge commits cannot be expressed as
  * change events, which is why the replica follows the raw table.
  */
final class IngestCurate(spark: SparkSession, r: Recorder, corpus: Corpus,
                         checks: Checks, dir: String)
    extends Workload(spark, r, corpus, checks, dir) {
  val name = "ingest_curate"
  val nominalCycleS = 10.0
  val tableRows = 6000
  val batchRows = 400
  val nlist = 16
  val shards = 8
  val textDupShare = 0.04
  val vecDupShare = 0.02
  /** Squared-L2 distance under which two vectors are duplicates: planted
    * copies sit near 64·DupNoise², unrelated rows near 2·64·Spread².
    */
  val dupDist = 0.01
  /** The label curation gives part of each batch. */
  val curatedLabel = 99

  var table: GraftDataset = _
  var tableRoot = ""
  private var raw: GraftDataset = _
  private var rawRoot = ""
  private var replicaRoot = ""
  private var ckpt = ""
  private var history: IndexedSeq[Doc] = IndexedSeq.empty
  private var nextId = 0L
  private var batchNo = 0
  private var rows = 0L
  private var rawRows = 0L
  /** Pairs MinHash-LSH found in the first measured cycle. */
  private var firstPairs: Option[Long] = None
  var dedupRows = 0L
  var rowsWritten = 0L
  var feedBatches = 0L
  var feedRows = 0L

  def setup(): Unit = {
    tableRoot = rootOf("curated"); rawRoot = rootOf("raw")
    replicaRoot = rootOf("replica"); ckpt = rootOf("checkpoint")
    batchNo = 0; nextId = 0
    history = corpus.batch(batchNo, nextId, tableRows)
    nextId += tableRows; batchNo += 1
    for (root <- Seq(tableRoot, rawRoot)) {
      val ds = GraftDataset.create(spark, root, Corpus.schema)
      appendCommit(ds, Corpus.toDF(spark, history, 4), "seed")
    }
    table = load(tableRoot)
    r.span("inverted.create")(table.createIndexVectorized("text", shards))
    r.span("vector.create")(table.createVectorIndex("emb", nlist, metric = "l2"))
    raw = load(rawRoot)
    rows = tableRows; rawRows = tableRows
    drain()
  }

  /** Drain the raw table's change feed; the replica must then hold
    * exactly the raw table's rows.
    */
  private def drain(): Unit = {
    val (batches, applied) = r.op("replicate", "streaming.replicate") {
      val q = GraftStreaming.replicate(spark, rawRoot, replicaRoot, ckpt,
        Trigger.AvailableNow())
      try q.awaitTermination() finally q.stop()
      val p = q.recentProgress
      (p.count(_.numInputRows > 0).toLong, p.map(_.numInputRows).sum)
    }
    if (r.measuring) { feedBatches += batches; feedRows += applied }
    val src = Workload.checksum(raw.toDF)
    val dst = Workload.checksum(GraftDataset.load(spark, replicaRoot).toDF)
    checks(src._1 == rawRows, s"$name: raw table holds ${src._1} rows, expected $rawRows")
    checks(src == dst, s"$name: replica (rows, checksum) $dst != raw table $src")
  }

  def cycle(i: Int): Unit = {
    val docs = corpus.batch(batchNo, nextId, batchRows, textDupShare, vecDupShare, history)
    nextId += batchRows; batchNo += 1
    val batch = Corpus.toDF(spark, docs, 4)
    appendCommit(raw, batch, s"raw batch $batchNo")
    rawRows += docs.size

    // curation on a branch of the curated table
    val before = rows
    val branch = s"curate-$batchNo"
    r.op("checkout", "versioning.checkout")(table.checkout(branch, create = true))
    r.op("vector_load", "vector.load")(table.loadVectorIndex("emb"))
    val pairs = r.op("dedup", "dedup.minhash")(
      Dedup.minHashLsh(batch, "text", "id", shingleN = 1, threshold = 0.6,
        portable = true).select("id_a", "id_b").collect()
        .map(p => (p.getLong(0), p.getLong(1))))
    if (r.measuring) dedupRows += docs.size
    if (r.measuring && firstPairs.isEmpty) firstPairs = Some(pairs.length.toLong)
    val knn = r.op("knn_join", "vector.knn_join")(
      table.vectorKnnJoin("emb", batch.select("id", "emb"), "id", "emb", k = 1,
        metric = "l2", nprobe = 1).select("query_id", "score").collect()
        .map(h => (h.getLong(0), h.getDouble(1))))
    checks(knn.length == docs.size, s"$name: k-NN join answered ${knn.length} of ${docs.size} rows")
    // near-copies of curated rows, and the later copy of each in-batch text pair
    val dups = (knn.collect { case (q, s) if s < dupDist => q } ++ pairs.map(_._2)).toSet
    val survivors = docs.filterNot(d => dups.contains(d.id))
    val relabel = survivors.filter(_.label == 0).map(_.id)
    appendCommit(table, Corpus.toDF(spark, survivors.map(d =>
      if (d.label == 0) d.copy(label = curatedLabel) else d), 4), s"curated batch $batchNo")
    val diffRows = r.op("diff", "versioning.diff")(table.diff("main").count())
    checks(diffRows == survivors.size,
      s"$name: diff has $diffRows rows, ${survivors.size} survivors landed")
    r.op("checkout", "versioning.checkout")(table.checkout("main"))
    r.op("merge", "versioning.merge")(table.merge(branch))
    r.op("delete_branch", "versioning.delete_branch")(table.deleteBranch(branch))
    rows = before + survivors.size
    val now = table.toDF.count()
    checks(now == rows, s"$name: main holds $now rows after merge, expected $rows " +
      s"($before + ${survivors.size} survivors of ${docs.size})")
    r.op("index_refresh", "index.refresh") {
      r.span("inverted.update")(table.updateIndexVectorized("text", shards))
      r.span("vector.update")(table.updateVectorIndex("emb", nlist))
    }

    // the raw table follows curation's verdict; the replica follows it
    val ids = dups.toSeq
    val popped = r.op("mutate", "format.pop")(raw.pop(col("id").isin(ids: _*)))
    checks(popped == ids.size, s"$name: popped $popped of ${ids.size} duplicates")
    val relabeled = r.op("mutate", "format.update")(raw.update(
      col("id").isin(relabel: _*), Map("label" -> lit(curatedLabel))))
    checks(relabeled == relabel.size, s"$name: relabeled $relabeled of ${relabel.size} rows")
    r.op("commit", "format.commit")(raw.commit(s"curation of raw batch $batchNo"))
    rawRows -= popped
    if (r.measuring) rowsWritten += docs.size + survivors.size + popped + relabeled
    drain()
  }

  override def finish(): Map[String, Double] =
    Map("dedup.pairs" -> firstPairs.getOrElse(0L).toDouble,
      "dedup.rows" -> dedupRows.toDouble,
      "format.rows_written" -> rowsWritten.toDouble,
      "streaming.batches" -> feedBatches.toDouble,
      "streaming.rows_applied" -> feedRows.toDouble)
}
