package perfbench

import graft.{HarnessTuning, Quiet, SparkEntry, SqlEntry, Tables}
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark runner. `perfbench/run.py` builds it and drives it; see
  * `perfbench/README.md` for the metrics and the layer model.
  *
  *   run    --workload W --seed N --seconds S --trace 0|1 --data DIR
  *          --digests FILE --warmup K --setup-cycles C [--spans FILE]
  *   record --data DIR --out DIR
  *
  * `run` prints one `PERFBENCH_RESULT {json}` line; `record` writes every
  * benchmark query's output as parquet (for the DuckDB oracle check), the
  * oracle SQL, and `digests.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("run") => run(opts)
      case Some("record") => record(opts("data"), opts("out"))
      case _ => sys.error("usage: run|record [--key value]...")
    }
  }

  private val cores = Runtime.getRuntime.availableProcessors

  /** The session `graft.Bench` times under: same master, partitions,
    * extensions, time zone, AQE and harness tuning. A traced run adds
    * only its listener. */
  def session(trace: Boolean): SparkSession = {
    val b = HarnessTuning(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
    val spark = (if (trace) b.config("spark.sql.queryExecutionListeners", classOf[QeListener].getName)
      else b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Quiet.windowExecWarnings()
    spark
  }

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with nanosecond resolution, comparable with the
    * millisecond times Spark's listener events carry. */
  private def clock(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Old-generation occupancy right after a full collection, in MB. Read
    * at every pass boundary. The gated figure is the lowest reading after a
    * timed pass: single readings jump by about 35 MB at some boundaries and
    * not at others, and how many do changes from run to run. */
  private def oldGenAfterGc(): Double = {
    // twice: Spark's context cleaner frees shuffle and broadcast state
    // only after a collection has cleared the references to it, and it
    // polls for those every 100 ms
    System.gc(); Thread.sleep(300); System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val used = pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    (if (used > 0) used else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  }

  private def readDigests(path: String): Map[String, String] = {
    val txt = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap
  }

  def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    val queries = Workloads.all.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o.get("trace").contains("1")
    val sfDir = o("data")
    val expected = readDigests(o("digests"))
    val warmup = o("warmup").toInt.max(1)
    val cycles = o("setup-cycles").toInt.max(1)

    // ── set-up: session start + cold load of the ten tables, several
    // times; the last session stays up for the warm-up and timed passes
    val setupCycles = mutable.ArrayBuffer.empty[(Double, Double)] // (total, load)
    var spark: SparkSession = null
    for (_ <- 1 to cycles) {
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val t0 = clock()
      spark = session(trace)
      val t1 = clock()
      Tables.names.foreach(n => Tables.load(spark, sfDir, n))
      val t2 = clock()
      setupCycles += (((t2 - t0) / 1000, (t2 - t1) / 1000))
    }
    val collector = if (trace) {
      val c = new Collector
      Collector.active = c
      spark.sparkContext.addSparkListener(new SparkEvents(c))
      Some(c)
    } else None
    val sc = spark.sparkContext

    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val heapAfterGc = mutable.ArrayBuffer.empty[Double]
    var retainedHeap = Double.PositiveInfinity
    val runs = mutable.ArrayBuffer.empty[QueryRun]

    /** One query: construct (plus, when traced, an explicit view
      * registration for SQL queries), then execute every output. */
    def runQuery(q: Query, passIdx: Int, check: Boolean): Option[Double] = {
      attempted += 1
      val id = s"$workload/$passIdx/${q.name}"
      sc.setLocalProperty(Collector.QueryProperty, id)
      val t0 = clock()
      try {
        val (r0, r1) = if (trace && q.sql) {
          val a = clock(); SqlEntry.registerViews(Tables.T(spark, sfDir)); (a, clock())
        } else (Double.NaN, Double.NaN)
        val c0 = clock()
        val outs = q.construct(spark, sfDir)
        val c1 = clock()
        if (check) outs.foreach { case (key, df) =>
          val want = expected.get(Workloads.twinOf.getOrElse(key, key))
          val got = Digest.of(df)
          if (!want.contains(got)) failures += s"$key: digest $got, expected ${want.getOrElse("none recorded")}"
        } else outs.foreach(_._2.write.mode("overwrite").format("noop").save())
        val t1 = clock()
        runs += QueryRun(id, passIdx, q.sql, t0, r0, r1, c0, c1, t1)
        Some((t1 - t0) / 1000)
      } catch {
        case e: Throwable =>
          failures += s"${q.name}: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(300)}"
          None
      } finally sc.setLocalProperty(Collector.QueryProperty, null)
    }

    val rnd = new scala.util.Random(seed)
    /** Pass order: a fresh permutation of the workload per pass, drawn
      * from the seed, so no query always follows the same neighbour. */
    def order(): Seq[Query] = rnd.shuffle(queries)

    val coldQuery = mutable.TreeMap.empty[String, Double]
    // ── warm-up passes, untimed. The first is the result check: every
    // query digests its outputs instead of discarding them.
    val warmStart = clock()
    val warmPasses = (0 until warmup).map { i =>
      val t0 = clock()
      order().foreach(q => runQuery(q, -1 - i, check = i == 0).foreach { d =>
        if (i == 0) coldQuery(q.name) = d
      })
      val d = (clock() - t0) / 1000
      heapAfterGc += oldGenAfterGc()
      d
    }
    val warmS = (clock() - warmStart) / 1000

    // ── timed passes: whole passes until `seconds` have elapsed
    val passes = mutable.ArrayBuffer.empty[PassRun]
    val samples = mutable.ArrayBuffer.empty[Double]
    val byQuery = mutable.TreeMap.empty[String, mutable.ArrayBuffer[Double]]
    queries.foreach(q => byQuery(q.name) = mutable.ArrayBuffer.empty)
    val measureStart = clock()
    while (passes.isEmpty || clock() - measureStart < seconds * 1000) {
      val idx = passes.size
      val t0 = clock()
      order().foreach(q => runQuery(q, idx, check = false).foreach { d =>
        samples += d; byQuery(q.name) += d
      })
      passes += PassRun(idx, t0, clock())
      val heap = oldGenAfterGc()
      heapAfterGc += heap
      retainedHeap = math.min(retainedHeap, heap)
    }

    val passS = passes.map(p => (p.end - p.start) / 1000).toSeq
    val setupS = median(setupCycles.map(_._1).toSeq) + warmS
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "pass_s" -> (median(passS), "s"),
      "query_p50_s" -> (median(samples.toSeq), "s"),
      "setup_s" -> (setupS, "s"),
      "retained_heap_mb" -> (retainedHeap, "MB"))
    val detail = mutable.LinkedHashMap[String, String](
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "passes" -> Json.nums(passS),
      "warmup_passes" -> Json.nums(warmPasses),
      "setup_cycles" -> Json.nums(setupCycles.map(_._1).toSeq),
      "heap_after_gc_mb" -> Json.nums(heapAfterGc.toSeq),
      "peak_heap_mb" -> Json.num(heapAfterGc.max),
      "check_pass_query_s" -> coldQuery.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString("{", ",", "}"),
      "query_samples" -> samples.size.toString,
      "query_medians_s" -> byQuery.map { case (k, v) => s"${Json.str(k)}:${Json.num(median(v.toSeq))}" }
        .mkString("{", ",", "}"),
      "failed_ratio" -> Json.num(failures.size.toDouble / attempted.max(1)),
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"))
    // p90 needs ten samples beyond it
    if (samples.size >= 100) detail("query_p90_s") = Json.num(samples.sorted.apply((samples.size * 9) / 10))

    val layers = collector.map { c =>
      c.drain(spark)
      val res = Layers.analyze(passes.toSeq, runs.toSeq, c, cores)
      val keys = res.perPass.head.keys.toSeq.sorted
      val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
      perLayer("tables.cold_load_s") = (median(setupCycles.map(_._2).toSeq), "s")
      keys.foreach(k => perLayer(k) = (median(res.perPass.map(_(k))), unitOf(k)))
      perLayer("trace.query_coverage_min") = (res.minQueryCoverage, "ratio")
      perLayer("trace.self_vs_pass") = (res.selfVsPass, "ratio")
      o.get("spans").foreach(f => writeSpans(f, res.spans))
      perLayer
    }

    val metricsJson = (m: collection.Map[String, (Double, String)]) => m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val line = new StringBuilder("{")
    line ++= s"\"correct\":${failures.isEmpty},\"attempted\":$attempted,\"failed\":${failures.size}"
    line ++= s",\"end_to_end\":${metricsJson(e2e)}"
    layers.foreach(l => line ++= s",\"per_layer\":${metricsJson(l)}")
    line ++= detail.map { case (k, v) => s",${Json.str(k)}:$v" }.mkString
    line ++= "}"
    Collector.active = null
    spark.stop()
    println("PERFBENCH_RESULT " + line)
    System.out.flush()
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_share") || k.endsWith("_ratio")) "ratio" else "count"

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)}}"""
    }
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** Runs every benchmark query once, writes its outputs for the DuckDB
    * oracle check and records each output's digest. */
  def record(sfDir: String, outDir: String): Unit = {
    val spark = session(trace = false)
    val qs = (Workloads.all.values.flatten ++ Workloads.referenceOnly).toSeq.distinctBy(_.name)
    val digests = mutable.TreeMap.empty[String, String]
    Files.createDirectories(Paths.get(outDir))
    qs.foreach { q =>
      q.construct(spark, sfDir).foreach { case (key, df) =>
        digests(key) = Digest.of(df)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$key")
        val back = Digest.of(spark.read.parquet(s"$outDir/$key"))
        require(back == digests(key), s"$key: written output digests as $back, not ${digests(key)}")
        System.err.println(s"[perfbench] recorded $key ${digests(key)}")
      }
    }
    val twinMismatch = Workloads.twinOf.collect { case (twin, ref) if digests(twin) != digests(ref) =>
      s"$twin digests as ${digests(twin)}, its twin $ref as ${digests(ref)}"
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => digests.contains(k) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracle.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/digests.json"),
      digests.map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
    require(twinMismatch.isEmpty, twinMismatch.mkString("; "))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def nums(ds: Seq[Double]): String = ds.map(num).mkString("[", ",", "]")
}
