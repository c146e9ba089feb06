package perfbench

import graft.similarity.HybridIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** index_lifecycle: one client in a closed loop over a hybrid index.
  * Set-up exports the base docs; each step of the loop then absorbs a
  * small delta shard, serves query batches over it, and compacts.
  * Every operation is many small Spark jobs, so driver and scheduling
  * time dominate; the files read per serve grow with live deltas and
  * fall after compaction.
  */
final class IndexLifecycle(spark: SparkSession, dir: String, seed: Long)
    extends Workload(spark, dir, seed) {
  import IndexLifecycle._
  import spark.implicits._

  private val corpus = new Gen.IndexCorpus(seed, BaseDocs, DeltaDocs)
  private val input = s"$dir/input"
  private val index = s"$dir/index"
  corpus.write(spark, input, Deltas)
  val inputDigest: String = Gen.digestDir(input)

  private val base = spark.read.schema(InputSchema).parquet(s"$input/base")
  HybridIndex.export(spark, base, "doc_id", "text", base, "doc_id", "embedding", index)

  private var nextDelta = 0
  private var nextBatch = 0
  private var indexedDocs = BaseDocs.toLong
  private var indexedBytes = (0L until BaseDocs).map(corpus.rawBytes).sum
  private val bytesRatios = collection.mutable.ArrayBuffer.empty[Double]
  private val filesPerServe = collection.mutable.ArrayBuffer.empty[Int]
  private var resultRows = 0L

  def primary = "serve"


  private def absorb(tr: Tracer): Op = {
    val d = nextDelta
    nextDelta += 1
    val delta = spark.read.schema(InputSchema).parquet(s"$input/deltas/delta=$d")
    val (committed, ms, cpuMs) = timed(tr.span("similarity.absorb") {
      HybridIndex.appendDelta(spark, delta, "doc_id", "text", delta, "doc_id", "embedding",
        index, s"d$d", refreshManifest = false)
    })
    indexedDocs += DeltaDocs
    indexedBytes += corpus.deltaIds(d).map(i => corpus.rawBytes(i.toLong)).sum
    Op("absorb", ms, cpuMs, DeltaDocs, check(committed, s"delta d$d was not committed"))
  }

  /** Serve batch `b`; query 0 must retrieve the probe doc of the newest delta. */
  private def serve(tr: Tracer, b: Int): (Op, Seq[(Long, Long, Long, Double)]) = {
    val probe = corpus.deltaIds(nextDelta - 1).head.toLong
    val (lex, vec) = corpus.queries(b, QueriesPerBatch, probe, indexedDocs)
    val (rows, ms, cpuMs) = timed(tr.span("similarity.serve") {
      HybridIndex.servedTopKBatch(spark, index, lex.toDF("qid", "tok"),
          vec.toDF("query_id", "qv"), "query_id", "qv", k = TopK)
        .select(col("query_id").cast("long"), col("doc_id").cast("long"),
          col("rank").cast("long"), col("rrf").cast("double"))
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    })
    val ok = tr.span("bench.check") {
      if (tr.enabled) {
        filesPerServe += servedFiles()
        resultRows += rows.size
      }
      check(rows.exists(r => r._1 == 0 && r._2 == probe), s"batch $b: probe doc $probe not in its own top-$TopK")
    }
    (Op("serve", ms, cpuMs, 0, ok), rows)
  }

  /** Parquet files a serve reads: the served version's base components
    * plus those of every live delta.
    */
  private def servedFiles(): Int = {
    val root = graft.similarity.AnnIndex.resolve(spark, index)
    val it = fs(root).listFiles(new org.apache.hadoop.fs.Path(root), true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .count(p => p.getName.endsWith(".parquet") && !p.toString.contains("/manifest/"))
  }

  private def compact(tr: Tracer): Op = {
    val (manifest, ms, cpuMs) = timed(tr.span("similarity.compact") {
      HybridIndex.compact(spark, index).as[(String, Long)].collect().toMap
    })
    val ok = tr.span("bench.check") {
      bytesRatios += bytesUnder(graft.similarity.AnnIndex.resolve(spark, index)).toDouble / indexedBytes
      check(manifest.get("vectors").contains(indexedDocs),
        s"manifest counts ${manifest.get("vectors")} docs, $indexedDocs absorbed")
    }
    Op("compact", ms, cpuMs, 0, ok)
  }

  /** Absorb the next delta, serve after it, compact, and serve the last
    * batch again: compaction must not change a served bit.
    */
  private def delta(tr: Tracer, serves: Int): Seq[Op] = {
    val ops = collection.mutable.ArrayBuffer(absorb(tr))
    var before = Seq.empty[(Long, Long, Long, Double)]
    for (_ <- 0 until serves) {
      val (op, rows) = serve(tr, nextBatch)
      ops += op
      before = rows
      nextBatch += 1
    }
    val last = nextBatch - 1
    ops += compact(tr)
    val (op, rows) = serve(tr, last)
    ops += op.copy(ok = op.ok && check(rows == before, s"batch $last served differently after compaction"))
    ops.toSeq
  }

  /** One untimed step, so every operation and plan shape has run once. */
  def warmUp(): Unit = delta(new Tracer(spark, enabled = false), serves = 1)

  def step(tr: Tracer): Seq[Op] =
    if (nextDelta >= Deltas) {
      System.err.println("[perfbench] delta pool exhausted; loop ends early")
      Seq.empty
    } else try delta(tr, ServesPerDelta)
    catch { case e: Exception =>
      System.err.println(s"[perfbench] step failed: $e"); Seq(Op("delta", 0, 0, 0, ok = false))
    }

  def outBytesPerInByte: Double = {
    val s = bytesRatios.sorted
    s(s.length / 2)
  }

  def ratios(tr: Tracer): Map[String, Double] = Map(
    "similarity.files_per_serve" -> filesPerServe.sum.toDouble / math.max(1, filesPerServe.size),
    "similarity.rows_per_result" ->
      tr.tasksOf("similarity.serve").map(_.inputRecords).sum.toDouble / math.max(1L, resultRows),
    "similarity.compact_bytes_rewritten" ->
      tr.tasksOf("similarity.compact").map(_.outputBytes).sum.toDouble / math.max(1, tr.calls("similarity.compact")))
}

object IndexLifecycle {
  /** The generated docs' schema, given so reading them runs no job. */
  val InputSchema = "doc_id BIGINT, text STRING, embedding ARRAY<DOUBLE>"
  val Spans = Seq("similarity.absorb", "similarity.serve", "similarity.compact")
  /** Base export size and delta pool: small shards, so each operation is
    * many small jobs; the pool outlasts the longest loop.
    */
  val BaseDocs = 2000
  val DeltaDocs = 50
  val Deltas = 24
  val ServesPerDelta = 2
  val QueriesPerBatch = 16
  val TopK = 10
}
