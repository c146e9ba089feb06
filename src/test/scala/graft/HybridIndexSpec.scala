package graft

import graft.similarity.{HybridIndex, Similarity}
import graft.ops.TextOps
import org.apache.spark.sql.functions._

/** Disk-parity for the exported hybrid index: the served path over the
  * persisted BM25 statistics + BQ code table must answer exactly what
  * the in-session rrfFuse(bm25TopK, bqTopK) composition answers.
  */
class HybridIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = graft.core.Tables.documents(spark, sfDir)
  private def embs = graft.core.Tables.embeddings(spark, sfDir)
  private val lexQueries = Seq(1 -> Seq("scan", "column"),
    2 -> Seq("window", "sort"), 3 -> Seq("stream", "batch"))

  test("servedTopK over the exported index is bit-identical to the in-session hybrid") {
    val path = graft.io.IoScratch.dir + "/hybrid_index_spec"
    HybridIndex.export(spark, docs, "doc_id", "text",
      embs, "vec_id", "embedding", path)
    val queries = embs.filter(col("vec_id").isin(1, 2, 3))
    val lex = TextOps.bm25TopK(docs, "doc_id", "text", lexQueries, k = 20)
      .select(col("qid").as("query_id"), col("doc_id"), col("rank"))
    val vec = Similarity.bqTopK(embs, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 20, bits = 48, cands = 100)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
    val direct = Similarity.rrfFuse(Seq(lex, vec), k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val served = HybridIndex.servedTopK(spark, path, lexQueries,
        queries, "vec_id", "embedding", k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(served == direct)
  }

  test("manifest counts what landed; re-export publishes a new version atomically") {
    val path = graft.io.IoScratch.dir + "/hybrid_index_spec2"
    val hconf0 = spark.sparkContext.hadoopConfiguration
    new org.apache.hadoop.fs.Path(path).getFileSystem(hconf0)
      .delete(new org.apache.hadoop.fs.Path(path), true) // clean slate: v1 next
    val m1 = HybridIndex.export(spark, docs, "doc_id", "text",
        embs, "vec_id", "embedding", path)
      .as[(String, Long)].collect().toMap
    val nVecs = embs.count()
    assert(m1("bqcodes") == nVecs && m1("vectors") == nVecs)
    assert(m1("corpusstats") == 1L)
    assert(m1("postings") >= m1("termstats")) // >= one posting per term
    val r1 = graft.similarity.AnnIndex.resolve(spark, path)
    assert(r1.endsWith("/v1"), r1)
    // the stored stats match the bm25TopK convention exactly
    val (nd, avgdl) = spark.read.parquet(s"$r1/corpusstats")
      .select("n_docs", "avgdl").as[(Long, Double)].head()
    assert(nd == docs.count())
    val base = docs.select(
      graft.functions.TextAnalysis.tokensArr(col("text")).as("toks"))
      .select(size(col("toks")).cast("long").as("dl")).filter(col("dl") > 0)
    val expected = base.agg(
        (sum("dl").cast("double") / count(lit(1)).cast("double")).as("a"))
      .as[Double].head()
    assert(avgdl == expected)
    // re-export publishes v2; v1 is retained as the predecessor
    HybridIndex.export(spark, docs, "doc_id", "text",
      embs, "vec_id", "embedding", path)
    assert(graft.similarity.AnnIndex.resolve(spark, path).endsWith("/v2"))
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/v1/_PUBLISHED")))
  }

  test("appendDelta: absorbed shards serve bit-identically to a full re-export of the union") {
    val half = docs.filter(col("doc_id") % 2 === 0)
    val rest = docs.filter(col("doc_id") % 2 =!= 0)
    val halfV = embs.filter(col("vec_id") % 2 === 0)
    val restV = embs.filter(col("vec_id") % 2 =!= 0)
    val full = graft.io.IoScratch.dir + "/hybrid_full"
    val inc = graft.io.IoScratch.dir + "/hybrid_inc"
    HybridIndex.export(spark, docs, "doc_id", "text",
      embs, "vec_id", "embedding", full)
    HybridIndex.export(spark, half, "doc_id", "text",
      halfV, "vec_id", "embedding", inc)
    assert(HybridIndex.appendDelta(spark, rest, "doc_id", "text",
      restV, "vec_id", "embedding", inc, "shard1"))
    val queries = embs.filter(col("vec_id").isin(1, 2, 3))
    def serve(p: String) = HybridIndex.servedTopK(spark, p, lexQueries,
        queries, "vec_id", "embedding", k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(serve(inc) == serve(full),
      "the committed-delta union IS the corpus: BM25 integer statistics " +
        "over disjoint doc sets and corpus-independent BQ codes must " +
        "compose to the full-export bits")
    // replay is a no-op (the AnnIndex exactly-once contract, same ledger)
    assert(!HybridIndex.appendDelta(spark, rest, "doc_id", "text",
      restV, "vec_id", "embedding", inc, "shard1"))
    assert(serve(inc) == serve(full))
    // the manifest counts the SERVED state: union rows, merged termstats
    val mFull = spark.read.parquet(
        s"${graft.similarity.AnnIndex.resolve(spark, full)}/manifest")
      .as[(String, Long)].collect().toMap
    val mInc = spark.read.parquet(
        s"${graft.similarity.AnnIndex.resolve(spark, inc)}/manifest")
      .as[(String, Long)].collect().toMap
    assert(mInc == mFull, s"served-state manifests must agree: $mInc vs $mFull")
    // COMPACTION: pure rewrite of the stored tables — fresh version,
    // empty delta set, identical served bits, folded name stays burned
    val v1 = graft.similarity.AnnIndex.resolve(spark, inc)
    HybridIndex.compact(spark, inc, minDeltas = 1)
    val v2 = graft.similarity.AnnIndex.resolve(spark, inc)
    assert(v2 != v1, "the fold publishes a fresh version")
    assert(graft.similarity.AnnIndex.committedDeltas(spark, v2).isEmpty)
    assert(serve(inc) == serve(full), "the fold must not move a served bit")
    assert(!HybridIndex.appendDelta(spark, rest, "doc_id", "text",
      restV, "vec_id", "embedding", inc, "shard1"),
      "a compaction must not resurrect an absorbed batch name")
    assert(serve(inc) == serve(full))
  }

  test("servedTopKBatch (DataFrame query batch) is bit-identical to the Seq form") {
    val path = graft.io.IoScratch.dir + "/hybrid_index_batchform"
    HybridIndex.export(spark, docs, "doc_id", "text",
      embs, "vec_id", "embedding", path)
    val queries = embs.filter(col("vec_id").isin(1, 2, 3))
    val viaSeq = HybridIndex.servedTopK(spark, path, lexQueries,
        queries, "vec_id", "embedding", k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // the batch form takes the SAME queries as a (qid, tok) table —
    // the stored-query-set labeling shape, no driver Seq
    val qdf = lexQueries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("qid", "tok").repartition(7) // partitioning must not matter
    val viaDf = HybridIndex.servedTopKBatch(spark, path, qdf,
        queries, "vec_id", "embedding", k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(viaDf == viaSeq)
  }

  test("compact below minDeltas returns a manifest snapshot that a later refresh cannot change") {
    val p = graft.io.IoScratch.dir + "/hybrid_compact_snapshot"
    val hconf = spark.sparkContext.hadoopConfiguration
    new org.apache.hadoop.fs.Path(p).getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(p), true)
    val thirds = (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i))
    def vecsOf(d: org.apache.spark.sql.DataFrame) =
      embs.join(d.select(col("doc_id").as("vec_id")), "vec_id")
    HybridIndex.export(spark, thirds(0), "doc_id", "text",
      vecsOf(thirds(0)), "vec_id", "embedding", p)
    assert(HybridIndex.appendDelta(spark, thirds(1), "doc_id", "text",
      vecsOf(thirds(1)), "vec_id", "embedding", p, "d1"))
    def vectorRows(m: org.apache.spark.sql.DataFrame): Long =
      m.as[(String, Long)].collect().toMap.apply("vectors")
    // one delta below minDeltas = 2: no fold, the current manifest is held
    val held = HybridIndex.compact(spark, p, minDeltas = 2)
    // a refreshing absorb rewrites the manifest files under the held frame
    assert(HybridIndex.appendDelta(spark, thirds(2), "doc_id", "text",
      vecsOf(thirds(2)), "vec_id", "embedding", p, "d2", refreshManifest = true))
    assert(vectorRows(spark.read.parquet(
        s"${graft.similarity.AnnIndex.resolve(spark, p)}/manifest"))
      == vecsOf(docs).count(), "the refresh counts the new delta")
    assert(vectorRows(held) == vecsOf(thirds(0)).count() + vecsOf(thirds(1)).count(),
      "the held manifest keeps the counts as of the compact call")
  }

  test("out-of-band compact: late and raced hybrid deltas land exactly-once in the winner") {
    val p = graft.io.IoScratch.dir + "/hybrid_compact_race"
    val hconf = spark.sparkContext.hadoopConfiguration
    new org.apache.hadoop.fs.Path(p).getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(p), true)
    val third1 = docs.filter(col("doc_id") % 3 === 0)
    val third2 = docs.filter(col("doc_id") % 3 === 1)
    val third3 = docs.filter(col("doc_id") % 3 === 2)
    def vecsOf(d: org.apache.spark.sql.DataFrame) =
      embs.join(d.select(col("doc_id").as("vec_id")), "vec_id")
    HybridIndex.export(spark, third1, "doc_id", "text",
      vecsOf(third1), "vec_id", "embedding", p)
    assert(HybridIndex.appendDelta(spark, third2, "doc_id", "text",
      vecsOf(third2), "vec_id", "embedding", p, "d1"))
    // scenario A: "late" commits into the old version during the fold —
    // the post-publish migration sweep carries it over
    var late = false
    HybridIndex.compactHooked(spark, p, 1, () => {
      late = HybridIndex.appendDelta(spark, third3, "doc_id", "text",
        vecsOf(third3), "vec_id", "embedding", p, "late")
    })
    assert(late)
    val v2 = graft.similarity.AnnIndex.resolve(spark, p)
    assert(v2.endsWith("/v2"), v2)
    assert(graft.similarity.AnnIndex.committedDeltas(spark, v2) == Seq("late"))
    assert(!HybridIndex.appendDelta(spark, third3, "doc_id", "text",
      vecsOf(third3), "vec_id", "embedding", p, "late"))
    // the served union equals the full one-shot export (disjoint-doc
    // integer statistics -> bit-identical, the class contract)
    val full = graft.io.IoScratch.dir + "/hybrid_compact_race_full"
    HybridIndex.export(spark, docs, "doc_id", "text",
      embs, "vec_id", "embedding", full)
    val queries = embs.filter(col("vec_id").isin(1, 2, 3))
    def serve(at: String) = HybridIndex.servedTopK(spark, at, lexQueries,
        queries, "vec_id", "embedding", k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(serve(p) == serve(full))
    // scenario B: an absorb that loses the publish race re-appends into
    // the winning version (its commit went to the dead v2)
    val extraDocs = docs.filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + 50000L)
    val extraVecs = embs.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 50000L)
    assert(HybridIndex.appendDeltaHooked(spark, extraDocs, "doc_id", "text",
      extraVecs, "vec_id", "embedding", p, "racer", 48, 1, 1024, () => {
        HybridIndex.compact(spark, p, minDeltas = 1); ()
      }))
    val v4 = graft.similarity.AnnIndex.resolve(spark, p)
    assert(graft.similarity.AnnIndex.committedDeltas(spark, v4) == Seq("racer"))
    assert(!HybridIndex.appendDelta(spark, extraDocs, "doc_id", "text",
      extraVecs, "vec_id", "embedding", p, "racer"))
  }

  test("legacy 2-column corpusstats: serves read-only, mutations fail loudly") {
    // pre-round-16 exports stored corpusstats as (n_docs, avgdl) without
    // the integer sums the incremental merge needs: such an index must
    // keep SERVING (avgdl is final when the base is the only part) but
    // appendDelta/compact must reject with the re-export message, never
    // an AnalysisException over a missing column
    val path = graft.io.IoScratch.dir + "/hybrid_legacy"
    HybridIndex.export(spark, docs, "doc_id", "text",
      embs, "vec_id", "embedding", path)
    val root = graft.similarity.AnnIndex.resolve(spark, path)
    val queries = embs.filter(col("vec_id").isin(1, 2, 3))
    def serve() = HybridIndex.servedTopK(spark, path, lexQueries,
        queries, "vec_id", "embedding", k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val before = serve()
    // rewrite corpusstats in the legacy shape (values preserved)
    val legacy = spark.read.parquet(s"$root/corpusstats")
      .select("n_docs", "avgdl").as[(Long, Double)].collect().toSeq
    legacy.toDF("n_docs", "avgdl").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/corpusstats")
    assert(serve() == before, "a legacy base must keep serving as-is")
    val eApp = intercept[IllegalStateException] {
      HybridIndex.appendDelta(spark,
        docs.withColumn("doc_id", col("doc_id") + 100000L), "doc_id", "text",
        embs.withColumn("vec_id", col("vec_id") + 100000L),
        "vec_id", "embedding", path, "legacy_shard")
    }
    assert(eApp.getMessage.contains("re-export"), eApp.getMessage)
    val eCmp = intercept[IllegalStateException] {
      HybridIndex.compact(spark, path, minDeltas = 0)
    }
    assert(eCmp.getMessage.contains("re-export"), eCmp.getMessage)
  }
}
