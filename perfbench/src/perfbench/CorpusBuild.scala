package perfbench

import graft.dedup.Dedup
import graft.io.{Sinks, Warc}
import graft.ops.{HtmlOps, Pii, PrefixSum, Sampling, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** corpus_build: a closed loop of one build at a time over a seeded
  * mixed-media crawl — the `q_corpus_run7` chain at a size where parsing,
  * text and dedup do almost all the work on executors — followed by
  * corpus statistics over the committed shards through Disco's own job
  * skeletons ([[Skeletons]]).
  */
final class CorpusBuild(spark: SparkSession, dir: String, seed: Long)
    extends Workload(spark, dir, seed) {
  import CorpusBuild._
  import spark.implicits._

  private val corpus = new Gen.Corpus(seed, Docs)
  private val input = s"$dir/crawl"
  corpus.write(spark, input, Files)
  val inputDigest: String = Gen.digestDir(input)
  private val inputBytes = bytesUnder(input)

  private var builds = 0
  private var firstDigest: Option[String] = None
  private var outBytes = 0L
  private var layerRows = Seq.empty[(Long, Long, Long, Long, Long)]

  def primary = "build"

  /** Outputs of one build's layers, kept for the traced ratios. */
  private final case class Layers(read: DataFrame, clean: DataFrame,
                                  gated: DataFrame, kept: DataFrame)

  private def build(tr: Tracer, out: String): Layers = {
    val read = tr.layer("io.read") {
      Warc.read(spark, s"$input/*.warc.gz")
        .filter(col("warc_type") === "response")
        .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
          regexp_extract(col("target_uri"), "^http://([^./]+)\\.test/", 1).as("source"),
          col("content"))
        .as[(Long, String, Array[Byte])]
        .map { case (id, src, content) =>
          val (kind, text) = Warc.mediaText(content, pdfLineSep = "")
          (id, src, kind, text)
        }
        .toDF("doc_id", "source", "kind", "payload")
    }
    val clean = tr.layer("ops.clean") {
      val parsed = read.select(col("doc_id"), col("source"),
          when(col("kind") === "html", HtmlOps.htmlExtract(col("payload")))
            .otherwise(col("payload")).as("text_raw"))
        .localCheckpoint()
      parsed.select("doc_id", "source")
        .join(TextOps.normalizeText(parsed, "doc_id", "text_raw")
          .select(col("id").as("doc_id"), Pii.redactCol(col("text_clean")).as("text")), "doc_id")
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    val gated = tr.layer("ops.gate", cut = true) {
      val keep = TextOps.qualityRules(clean, "doc_id", "text")
        .filter(col("keep")).select(col("id").as("doc_id"))
      clean.join(keep, "doc_id")
    }
    val edges = tr.layer("dedup.edges") {
      Dedup.minhashLshEdges(gated, "doc_id", "text", shingleN = 2, bands = 4,
        rowsPerBand = 4, tau = 0.8)
    }
    val kept = tr.layer("dedup.canon") {
      gated.join(Dedup.canonicalize(gated, "doc_id", edges), "doc_id")
        .filter(col("doc_id") === col("canon_id"))
        .select("doc_id", "source", "n_chars", "text")
    }
    val packed = tr.layer("ops.pack") {
      val train = Sampling.splitByHash(kept, col("doc_id"), Seq(0.8, 0.1, 0.1), salt = "run")
        .filter(col("split") === 0)
        .withColumn("pri", Sampling.hashDraw(col("doc_id"), "runpri"))
      val capped = PrefixSum.budgetCapPerGroup(
          train.select("doc_id", "source", "n_chars", "pri", "text"),
          "source", Seq("pri", "doc_id"), "n_chars", budget = SourceBudget)
        .select("doc_id", "n_chars", "text")
      PrefixSum.packShards(capped, "doc_id", "n_chars", budget = ShardBudget)
    }
    tr.span("io.write") {
      Sinks.writeSharded(packed.select("shard", "doc_id", "text"), out, "shard")
    }
    Skeletons.run(spark, tr, spark.read.parquet(out).select("text").as[String], s"$out-stats")
    Layers(read, clean, gated, kept)
  }

  def warmUp(): Unit = {
    build(new Tracer(spark, enabled = false), s"$dir/out-warm")
    delete(s"$dir/out-warm")
    delete(s"$dir/out-warm-stats")
  }

  def step(tr: Tracer): Seq[Op] = {
    builds += 1
    val out = s"$dir/out-$builds"
    val (layers, ms, cpuMs) = try {
      val (l, t, c) = timed(build(tr, out))
      (Some(l), t, c)
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] build failed: $e"); (None, 0.0, 0.0)
    }
    val ok = layers.isDefined && tr.span("bench.check") {
      if (tr.enabled) layerRows :+= {
        val l = layers.get
        (l.read.count(), l.read.filter(length(col("payload")) > 0).count(),
          l.clean.count(), l.gated.count(), l.kept.count())
      }
      val good = checkOutput(out) && checkStats(out)
      outBytes = bytesUnder(out)
      delete(out)
      delete(s"$out-stats")
      good
    }
    Seq(Op("build", ms, cpuMs, Docs, ok))
  }

  /** The output contract: unique doc ids, at most one survivor per
    * planted exact-duplicate group, no planted PII string in any shard,
    * both budgets hold, and the same bits on every build of this input.
    */
  private def checkOutput(out: String): Boolean = {
    val rows = spark.read.parquet(out).select(col("doc_id"), col("shard").cast("long"), col("text"))
      .as[(Long, Long, String)].collect().sortBy(_._1)
    val docs = rows.map(r => r._1 -> corpus.doc(r._1)).toMap
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { case (id, shard, text) => md.update(s"$id\t$shard\t$text\n".getBytes("UTF-8")) }
    val digest = md.digest().map("%02x".format(_)).mkString.take(16)
    var cum = 0L
    val shardsOk = rows.forall { case (_, shard, text) =>
      val start = cum
      cum += text.length
      shard == start / ShardBudget
    }
    val perSource = rows.groupBy(r => docs(r._1).source).map { case (s, rs) => s -> rs.map(_._3.length.toLong).sum }
    val exactGroups = rows.map(r => docs(r._1)).map(d => if (d.exact) d.origin else d.id)
    val leaked = rows.filter { case (id, _, text) => docs(id).plants.exists(text.contains) }
    val stable = firstDigest.forall(_ == digest) && acrossRuns(digest)
    if (firstDigest.isEmpty) firstDigest = Some(digest)
    Seq(
      check(rows.nonEmpty, "empty output"),
      check(rows.map(_._1).distinct.length == rows.length, "doc_id repeats"),
      check(exactGroups.distinct.length == exactGroups.length, "two planted exact duplicates survive"),
      check(leaked.isEmpty, s"planted PII reached a shard in docs ${leaked.take(5).map(_._1).mkString(",")}"),
      check(perSource.values.forall(_ <= SourceBudget), s"per-source budget exceeded: $perSource"),
      check(shardsOk, "shard ids disagree with the shard budget"),
      check(stable, s"output digest $digest differs from an earlier build of this input")
    ).forall(identity)
  }

  /** Statistics of the shards' text, computed by plain Spark SQL once:
    * every build of this input commits the same shards (checked above).
    */
  private var oracle: Map[String, (Long, java.math.BigDecimal)] = null

  /** Each statistics job's result equals the SQL oracle's. */
  private def checkStats(out: String): Boolean = {
    if (oracle == null) oracle = Skeletons.oracle(spark.read.parquet(out).select(col("text").as("value")))
    Skeletons.Jobs.forall { job =>
      val got = Skeletons.rowDigest(spark.read.parquet(s"$out-stats/$job"))
      check(got == oracle(job), s"$job result $got differs from the SQL oracle ${oracle(job)}")
    }
  }

  /** The output digest of this input, remembered across runs in the
    * benchmark's state directory when one is given.
    */
  private def acrossRuns(digest: String): Boolean =
    sys.env.get("PERFBENCH_STATE").forall { state =>
      val f = java.nio.file.Paths.get(state, s"corpus_build-$inputDigest.out")
      if (java.nio.file.Files.exists(f))
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim == digest
      else {
        java.nio.file.Files.createDirectories(f.getParent)
        java.nio.file.Files.write(f, digest.getBytes("UTF-8"))
        true
      }
    }

  def outBytesPerInByte: Double = outBytes.toDouble / inputBytes

  def ratios(tr: Tracer): Map[String, Double] = {
    def tot(f: ((Long, Long, Long, Long, Long)) => Long) = layerRows.map(f).sum.toDouble
    Map(
      "io.extract_ok_ratio" -> tot(_._2) / tot(_._1),
      "ops.gate_keep_ratio" -> tot(_._4) / tot(_._3),
      "dedup.removed_ratio" -> (1 - tot(_._5) / tot(_._4))) ++ Skeletons.ratios(tr)
  }
}

object CorpusBuild {
  val Spans = Seq("io.read", "ops.clean", "ops.gate", "dedup.edges", "dedup.canon", "ops.pack", "io.write")

  /** Crawl size: large enough that executor work dominates a traced build. */
  val Docs = 1200
  val Files = 8
  /** Character budgets: the per-source cap binds on the two largest
    * sources; the shard budget cuts the train split into about ten shards.
    */
  val SourceBudget: Long = Docs * 100L
  val ShardBudget: Long = Docs * 40L
}
