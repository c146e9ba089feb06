package perfbench

import graft.io.{Pdf, Warc}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of the seed
  * and the record's id, so the same seed gives the same files whatever
  * the partitioning; the program under test only ever sees the files.
  */
object Gen {

  /** A per-(seed, stream, id) random source. */
  def rng(seed: Long, stream: Int, id: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(
      new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream).nextLong() ^ id * 0xBF58476D1CE4E5B9L)

  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "bi",
    "da", "fe", "gu", "ho", "ji", "pe", "qua", "ri", "so", "tu", "ze")

  /** Word `i` of a vocabulary: a bijective syllable spelling, 2+ syllables. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + Syllables.length // at least two syllables
    while (x > 0) { sb.append(Syllables(x % Syllables.length)); x /= Syllables.length }
    sb.toString
  }

  val Stopwords: Array[String] = Array("the", "a", "of", "and", "in")

  /** Zipf(s) over `n` ranks; rank r maps to a seed-permuted word id, so
    * the hot words differ by seed.
    */
  final class Zipf(seed: Long, stream: Int, n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    private val perm: Array[Int] = {
      val p = Array.range(0, n)
      val r = rng(seed, stream, -1)
      var i = n - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
      p
    }
    def rank(r: java.util.SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
    def draw(r: java.util.SplittableRandom): String = word(perm(rank(r)))
  }

  /** Text of `n` words: a quarter stopwords, the rest Zipf draws. */
  def words(z: Zipf, r: java.util.SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(if (r.nextDouble() < 0.25) Stopwords(r.nextInt(Stopwords.length)) else z.draw(r))

  /** SHA-256 over the files under `dir` (relative path without the
    * writer's per-job UUID, then bytes, in path order), so a changed
    * generator or builder shows as a new digest.
    */
  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  def digestDir(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val root = java.nio.file.Paths.get(dir)
    val files = java.nio.file.Files.walk(root).iterator()
    val paths = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")
        && !p.getFileName.toString.startsWith("_"))
      .map(p => (root.relativize(p).toString.replaceAll(Uuid, ""), p))
      .toSeq.sortBy(_._1)
    paths.foreach { case (name, p) =>
      md.update(name.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(p))
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  // ------------------------------------------------------------ corpus crawl

  val Sources: Array[String] = Array("wiki", "news", "forum", "blog", "docs", "shop", "recipes", "legal")
  private val SourceCdf: Array[Double] = {
    val w = Array(30.0, 20, 15, 10, 10, 5, 5, 5)
    var acc = 0.0
    w.map { x => acc += x / w.sum; acc }
  }
  val PdfLayouts: Array[String] = Array("classic", "xref", "cid", "aes", "rc4")

  /** One crawled document as planted: its source, media kind and layout,
    * the clean text it carries, and the PII strings planted in it.
    * `origin` is the doc whose text it copies (itself when original);
    * `exact` marks a byte-identical copy (same text, kind and layout).
    */
  final case class CDoc(id: Long, source: String, kind: String, layout: Int,
                        malformed: Boolean, text: String, plants: Seq[String],
                        origin: Long, exact: Boolean)

  final class Corpus(val seed: Long, val nDocs: Int) extends Serializable {
    private val zipf = new Zipf(seed, 11, 4000, 1.0)

    private def original(id: Long): CDoc = {
      val r = rng(seed, 1, id)
      val src = Sources(java.util.Arrays.binarySearch(SourceCdf, r.nextDouble()) match {
        case i if i >= 0 => i; case i => math.min(Sources.length - 1, -i - 1)
      })
      val n = if (r.nextDouble() < 0.05) 10 + r.nextInt(15) else 60 + r.nextInt(190)
      val ws = words(zipf, r, n).toBuffer
      val plants =
        if (r.nextInt(3) == 0) {
          val email = s"p${id}x${r.nextInt(1000)}@mail${r.nextInt(90)}.example.org"
          val phone = f"555-${100 + r.nextInt(900)}%03d-${r.nextInt(10000)}%04d"
          ws.insert(r.nextInt(ws.size + 1), s"contact $email or $phone")
          Seq(email, phone)
        } else Seq.empty
      val kind = if (r.nextBoolean()) "html" else "pdf"
      CDoc(id, src, kind, (id % PdfLayouts.length).toInt, r.nextInt(100) == 0,
        ws.mkString(" "), plants, id, exact = false)
    }

    /** About 5% exact and 5% near copies of an earlier original. */
    def doc(id: Long): CDoc = {
      val r = rng(seed, 2, id)
      val roll = r.nextInt(100)
      if (id < 64 || roll >= 10) original(id)
      else {
        var o = id - 1 - r.nextInt(63)
        while (rng(seed, 2, o).nextInt(100) < 10 && o >= 64) o -= 1 // copy an original
        val src = original(o)
        val self = original(id)
        if (roll < 5) src.copy(id = id, source = self.source, exact = true)
        else {
          val ws = src.text.split(" ")
          ws(r.nextInt(ws.length)) = zipf.draw(r)
          ws(r.nextInt(ws.length)) = zipf.draw(r)
          src.copy(id = id, source = self.source, text = ws.mkString(" "), exact = false)
        }
      }
    }

    def record(d: CDoc): Warc.WarcRecord = {
      val (body0, ctype) =
        if (d.kind == "html") (html(d.text).getBytes("UTF-8"), "text/html; charset=utf-8")
        else (Pdf.build(d.text, xrefStream = d.layout == 1, cidFont = d.layout == 2,
          encrypt = d.layout match { case 3 => "aesv2"; case 4 => "rc4-128"; case _ => "" }),
          "application/pdf")
      val body =
        if (!d.malformed) body0
        else if (d.kind == "pdf") body0.take(body0.length / 2) // truncated download
        else { val b = new Array[Byte](1500); rng(seed, 3, d.id).nextBytes(b); b }
      val http = (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++ body
      Warc.WarcRecord("response", s"<urn:crawl:doc:${d.id}>", "2026-01-01T00:00:00Z",
        Some(s"http://${d.source}.test/doc/${d.id}"), http)
    }

    /** Write the crawl as `files` .warc.gz archives under `dir`. */
    def write(spark: SparkSession, dir: String, files: Int): Unit = {
      import spark.implicits._
      val self = this
      Warc.write(spark.range(0, nDocs, 1, files).as[Long].map(i => self.record(self.doc(i))), dir)
    }
  }

  /** Page template with the usual markup dirt: doctype, invisible style,
    * script and comment subtrees, block and inline tags, entities.
    */
  def html(text: String): String =
    "<!DOCTYPE html>\n<html><head><title>crawl page</title>\n" +
      "<style type=\"text/css\">body { color: #222; } /* hidden */</style>\n" +
      "<script>if (x < 10 && y > 2) { track(\"hidden&amp;\"); }</script>\n" +
      "</head><body>\n<!-- nav boilerplate\nspanning lines -->\n<div class=\"nav\">home &amp; about</div>\n" +
      "<p>" + text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;") +
      "</p>\n<ul><li>share <b>this</b></li><li>next&nbsp;page</li></ul>\n</body></html>"

  // ------------------------------------------------------------ index corpus

  val Dim = 64
  private val Clusters = 32

  final class IndexCorpus(val seed: Long, val nBase: Int, val deltaSize: Int) extends Serializable {
    val zipf = new Zipf(seed, 21, 3000, 1.0)

    private def centroid(c: Int): Array[Double] = {
      val r = rng(seed, 22, c)
      Array.fill(Dim)(r.nextDouble() * 2 - 1)
    }

    def text(id: Long): String = {
      val r = rng(seed, 23, id)
      words(zipf, r, 20 + r.nextInt(40)).mkString(" ")
    }

    def vector(id: Long): Array[Double] = {
      val r = rng(seed, 24, id)
      val c = centroid(r.nextInt(Clusters))
      c.map(x => x + (r.nextDouble() - 0.5) * 0.6)
    }

    def deltaIds(d: Int): Range =
      Range(nBase + d * deltaSize, nBase + (d + 1) * deltaSize)

    /** Raw input bytes of one doc: its text plus id and vector as longs/doubles. */
    def rawBytes(id: Long): Long = text(id).length + 8 + 8 * Dim

    /** Base docs at `dir/base`, `deltas` delta shards at `dir/deltas/delta=<d>`. */
    def write(spark: SparkSession, dir: String, deltas: Int): Unit = {
      import spark.implicits._
      val self = this
      def table(from: Long, until: Long, parts: Int): DataFrame =
        spark.range(from, until, 1, parts).as[Long]
          .map(id => (id, self.text(id), self.vector(id)))
          .toDF("doc_id", "text", "embedding")
      table(0, nBase, 4).write.mode("overwrite").parquet(s"$dir/base")
      table(nBase, nBase.toLong + deltas * deltaSize, 4)
        .withColumn("delta", ((col("doc_id") - nBase) / deltaSize).cast("int"))
        .repartition(col("delta")).sortWithinPartitions("doc_id") // fixed row order
        .write.mode("overwrite").partitionBy("delta").parquet(s"$dir/deltas")
    }

    /** Query batch `b`: query 0 probes with the exact vector and two terms
      * of `probe` (a doc of the newest delta); the rest draw Zipf terms and
      * a noisy vector of a random indexed doc below `maxId`.
      */
    def queries(b: Int, n: Int, probe: Long, maxId: Long): (Seq[(Long, String)], Seq[(Long, Array[Double])]) = {
      val r = rng(seed, 25, b)
      val pw = text(probe).split(" ").filterNot(Stopwords.contains)
      val lex = Seq((0L, pw(0)), (0L, pw(pw.length / 2))) ++
        (1 until n).flatMap(q => Seq.fill(2 + r.nextInt(2))((q.toLong, zipf.draw(r))))
      val vec = (0L, vector(probe)) +: (1 until n).map { q =>
        (q.toLong, vector(r.nextLong(maxId)).map(x => x + (r.nextDouble() - 0.5) * 0.2))
      }
      (lex.distinct, vec)
    }
  }
}
