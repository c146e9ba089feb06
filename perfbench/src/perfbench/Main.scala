package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry:
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *
  * Sets up `Setups` times (session start, input generation, any base
  * build) and reports the median as `setup_s`, runs one untimed warm-up
  * pass, then runs the workload's closed loop for `--seconds`. Untraced,
  * it prints the end-to-end metrics; traced, it first repeats the
  * untraced loop as the overhead baseline, then runs the loop under the
  * span tracer and prints the per-layer metrics. The last stdout line is
  * the result.
  */
object Main {

  val Setups = 5

  val Workloads: Map[String, (SparkSession, String, Long) => Workload] = Map(
    "corpus_build" -> ((s, d, seed) => new CorpusBuild(s, d, seed)),
    "index_lifecycle" -> ((s, d, seed) => new IndexLifecycle(s, d, seed)))

  /** Every per-layer span, in report order. */
  val Spans: Seq[String] = CorpusBuild.Spans ++ Skeletons.Spans ++ IndexLifecycle.Spans

  /** Every layer ratio; a workload that does not measure one reports 0. */
  val Ratios: Seq[(String, String)] = Seq(
    "io.extract_ok_ratio" -> "ratio", "ops.gate_keep_ratio" -> "ratio",
    "dedup.removed_ratio" -> "ratio", "similarity.files_per_serve" -> "count",
    "similarity.rows_per_result" -> "ratio", "similarity.compact_bytes_rewritten" -> "bytes",
    "api.combine_ratio" -> "ratio", "api.reduce_skew" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val name = need("workload")
    val make = Workloads.getOrElse(name, usage(s"unknown workload '$name'"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val scratch = sys.env.getOrElse("GRAFT_SCRATCH", usage("GRAFT_SCRATCH is not set"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val hw = Hw.fingerprint()
    println(s"hw ${Json(hw)}")

    var spark: SparkSession = null
    var wl: Workload = null
    val setups = (0 until Setups).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      val dir = s"$scratch/work$k"
      spark = graft.core.GraftSession.builder("perfbench", cores)
        .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
        .config("spark.local.dir", s"$scratch/local")
        .getOrCreate()
      wl = make(spark, dir, seed)
      val s = (System.nanoTime() - t0) / 1e9
      if (k > 0) deleteTree(s"$scratch/work${k - 1}") // untimed: an earlier set-up's files
      (s, wl.inputDigest)
    }
    wl.warmUp()
    println(s"inputs workload=$name seed=$seed digest=${wl.inputDigest}")
    // the generator must be a pure function of the seed
    val genStable = setups.map(_._2).distinct.size == 1
    if (!genStable) System.err.println(s"[perfbench] input digests differ across set-ups: ${setups.map(_._2)}")

    /** Closed loop: start steps until the deadline; the step that
      * crosses it still runs and counts.
      */
    def loop(tr: Tracer): (Seq[Op], Double) = {
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      val ops = collection.mutable.ArrayBuffer.empty[Op]
      var more = true
      while (more && System.nanoTime() < deadline) {
        val s = wl.step(tr)
        ops ++= s
        more = s.nonEmpty
      }
      (ops.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    val (ops, metrics, detail) =
      if (!trace) {
        val (ops, _) = loop(new Tracer(spark, enabled = false))
        val heapMb = Hw.retainedHeapMb()
        val lat = ops.filter(_.kind == wl.primary).map(_.ms).sorted
        val records = ops.map(_.records).sum.toDouble
        val metrics = Seq(
          ("setup_s", median(setups.map(_._1)), "s"),
          ("records_per_s", records / (ops.map(_.ms).sum / 1e3), "records/s"),
          ("op_ms_p50", quantile(lat, 0.5), "ms"),
          ("cpu_ms_per_record", ops.map(_.cpuMs).sum / records, "ms"),
          ("heap_retained_mb", heapMb, "MB"),
          ("out_bytes_per_in_byte", wl.outBytesPerInByte, "ratio"))
        (ops, metrics, Map("setup_s" -> setups.map(_._1), "op_ms" -> lat))
      } else {
        val (base, _) = loop(new Tracer(spark, enabled = false))
        val tr = new Tracer(spark, enabled = true)
        val (ops, wall) = loop(tr)
        tr.finish()
        val perRecord = (os: Seq[Op]) => os.map(_.ms).sum / math.max(1L, os.map(_.records).sum)
        val tasks = tr.tasks
        val ratios = wl.ratios(tr)
        val untagged = tr.untaggedJobs
        val integrity = Op("trace", 0, 0, 0,
          ok = untagged == 0 || { System.err.println(s"[perfbench] $untagged traced jobs carry no span"); false })
        val metrics = tr.counters(Spans) ++
          Ratios.map { case (r, u) => (r, ratios.getOrElse(r, 0.0), u) } ++ Seq(
            ("spark.busy_ratio", tasks.map(_.runMs).sum / (wall * 1e3 * cores), "ratio"),
            ("spark.gc_ms", tasks.map(_.gcMs).sum.toDouble / math.max(1, ops.size), "ms"),
            ("trace.overhead_ratio", perRecord(ops) / perRecord(base) - 1, "ratio"),
            ("trace.unattributed_s", wall - tr.spanSeconds, "s"))
        (ops :+ integrity, metrics, Map("traced_wall_s" -> wall, "untagged_jobs" -> untagged,
          "baseline_ops" -> base.size, "setup_s" -> setups.map(_._1)))
      }
    spark.stop()

    val failed = ops.count(!_.ok) + (if (genStable) 0 else 1)
    val attempted = ops.size + 1 // the set-up determinism check counts as one operation
    metrics.foreach { case (m, v, u) => println(f"  $m%-44s $v%16.4f $u") }
    println(s"detail ${Json(detail ++ Map("workload" -> name, "seed" -> seed, "trace" -> trace,
      "inputs" -> wl.inputDigest, "ops" -> ops.groupBy(_.kind).map { case (k, v) => k -> v.size }))}")
    println(Json(Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (m, v, u) => m -> Map("value" -> v, "unit" -> u) }.toMap)))
    if (failed > 0) sys.exit(1)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload <${Workloads.keys.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1>")
    sys.exit(2)
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted samples. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  private def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }
}

/** Hardware fingerprint, so "code or box?" is answerable from a result:
  * CPU model, cores, memory, and a single-thread pure-JVM calibration loop.
  */
object Hw {
  private def procLine(file: String, key: String): String =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().find(_.startsWith(key)).map(_.split(":", 2)(1).trim).getOrElse("unknown")
      finally src.close()
    } catch { case _: Exception => "unknown" }

  @volatile private var sink = 0.0 // keeps the calibration loop live

  def calibMs(): Double = {
    def loop(): Double = {
      var x = 88172645463325252L; var s = 0.0; var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        s += java.lang.Double.longBitsToDouble((x & 0xffffL) | 0x3ff0000000000000L)
        i += 1
      }
      s
    }
    sink = loop() // warm the JIT before timing
    val times = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      sink += loop()
      (System.nanoTime() - t0) / 1e6
    }
    Main.median(times)
  }

  def fingerprint(): Map[String, Any] = Map(
    "cpu" -> procLine("/proc/cpuinfo", "model name"),
    "cores" -> Runtime.getRuntime.availableProcessors,
    "mem_kb" -> procLine("/proc/meminfo", "MemTotal").replaceAll("[^0-9]", "").toLongOption.getOrElse(-1L),
    "calib_ms" -> calibMs())

  /** Heap in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(100) }
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number            => n.toString
    case m: Map[_, _]         => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(apply).mkString("[", ",", "]")
    case other                => apply(other.toString)
  }
}
