package perfbench

import graft.api.{Classic, Pipeline}
import graft.io.Sinks
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Disco's own job skeletons as corpus statistics over lines of text: a
  * combiner word count, a sorted reduce over (word, next word) records,
  * and a pipeline bigram count — wide, Zipf-skewed shuffles through
  * non-codegen closures, where combiner effect and spill decide the time.
  */
object Skeletons {
  val Spans = Seq("api.wordcount", "api.sort", "api.pipeline")
  val Jobs = Seq("wordcount", "sort", "pipeline")
  private val Labels = 8

  private val wordCount = Classic.Job(
    map = line => line.split(" ").iterator.map(w => (w, "1")),
    combiner = Some((k, vs) => Iterator((k, vs.map(_.toLong).sum.toString))),
    reduce = Some((k, vs) => Iterator((k, vs.map(_.toLong).sum.toString))))

  /** Sorted reduce: each word's successors arrive in order, so the first
    * and last values are the min and max.
    */
  private val successors = Classic.Job(
    map = line => line.split(" ").sliding(2).collect { case Array(a, b) => (a, b) },
    reduce = Some { (k, vs) =>
      val first = vs.next()
      var last = first
      var n = 1L
      vs.foreach { v => last = v; n += 1 }
      Iterator((k, s"$n|$first|$last"))
    },
    sort = true)

  private val bigramReduce = Pipeline.Stage("reduce", { it =>
    val buf = it.buffered
    new Iterator[Pipeline.LKV] {
      def hasNext = buf.hasNext
      def next() = {
        val head = buf.next()
        var n = head.value.toLong
        while (buf.hasNext && buf.head.key == head.key) n += buf.next().value.toLong
        Pipeline.LKV(head.label, head.key, n.toString)
      }
    }
  }, sort = true)

  /** Run the three jobs over `lines`, committing each result as parquet
    * under `out/<job>`.
    */
  def run(spark: SparkSession, tr: Tracer, lines: => Dataset[String], out: String): Unit = {
    import spark.implicits._
    tr.span("api.wordcount") {
      Sinks.writeParquet(Classic.run(spark, lines, wordCount).toDF("key", "value"), s"$out/wordcount")
    }
    tr.span("api.sort") {
      Sinks.writeParquet(Classic.run(spark, lines, successors).toDF("key", "value"), s"$out/sort")
    }
    tr.span("api.pipeline") {
      val bigrams = lines.flatMap(_.split(" ").sliding(2).collect { case Array(a, b) =>
        val k = s"$a $b"
        Pipeline.LKV(math.floorMod(k.hashCode, Labels), k, "1")
      })
      Sinks.writeParquet(
        Pipeline.run(spark, bigrams,
          Seq(Pipeline.GroupNodeLabel -> Pipeline.combineStage("combine"),
            Pipeline.GroupLabel -> bigramReduce), labels = Labels)
          .select(col("key"), col("value")),
        s"$out/pipeline")
    }
  }

  /** Order-independent exact digest of a DataFrame's rows:
    * (row count, sum of 64-bit row hashes as an exact decimal).
    */
  def rowDigest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** The digests of the three results computed by plain Spark SQL over
    * the same lines (a single-column `value` DataFrame), not via graft.api.
    */
  def oracle(lines: DataFrame): Map[String, (Long, java.math.BigDecimal)] = {
    val words = lines.select(split(col("value"), " ").as("w"))
    val pairs = words.select(posexplode(col("w")).as(Seq("i", "a")), col("w"))
      .filter(col("i") < size(col("w")) - 1)
      .select(col("a"), element_at(col("w"), col("i").cast("int") + 2).as("b"))
    Map(
      "wordcount" -> rowDigest(words.select(explode(col("w")).as("key"))
        .groupBy("key").agg(count(lit(1)).cast("string").as("value"))),
      "sort" -> rowDigest(pairs.groupBy(col("a").as("key"))
        .agg(concat_ws("|", count(lit(1)).cast("string"), min("b"), max("b")).as("value"))),
      "pipeline" -> rowDigest(pairs.groupBy(concat_ws(" ", col("a"), col("b")).as("key"))
        .agg(count(lit(1)).cast("string").as("value"))))
  }

  /** `api.combine_ratio` (word count map output ÷ map input records) and
    * `api.reduce_skew` (median over reduce stages of the longest task ÷
    * the median task).
    */
  def ratios(tr: Tracer): Map[String, Double] = {
    val wc = tr.tasksOf("api.wordcount")
    val reduceStages = Spans.flatMap(tr.tasksOf).filter(_.shuffleReadRecords > 0).groupBy(_.stage).values
    val skews = reduceStages.map { ts =>
      val runs = ts.map(_.runMs.toDouble).sorted
      runs.last / math.max(1.0, runs(runs.length / 2))
    }.toSeq.sorted
    Map(
      "api.combine_ratio" -> wc.map(_.shuffleWriteRecords).sum.toDouble / math.max(1L, wc.map(_.inputRecords).sum),
      "api.reduce_skew" -> (if (skews.isEmpty) 0.0 else skews(skews.length / 2)))
  }
}
