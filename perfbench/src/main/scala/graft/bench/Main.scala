package graft.bench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One benchmark JVM. `perfbench/run.py` starts it; it never runs under
  * the build tool. Modes:
  *  - `setup`: build the session, report the time since the JVM was
  *    spawned, exit;
  *  - `run`: one workload, closed loop, one op at a time; writes the
  *    metrics, the check outcome and (traced) the spans as JSON;
  *  - `record`: run every declared query once and write its expected row
  *    count and digest;
  *  - `profile`: run every declared query once cold and then in
  *    `passes` shuffled warm passes, and write each query's cold time and
  *    median warm time (the measurement the workload cores are chosen
  *    from).
  */
object Main {

  final case class OpRec(name: String, ms: Double, failure: Option[String])

  def main(argv: Array[String]): Unit = {
    def sinceSpawn(spawnNs: Long) = {
      val now = java.time.Instant.now()
      (now.getEpochSecond * 1000000000L + now.getNano - spawnNs) / 1e9
    }
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = a("cpus").toInt
    val runDir = a("run-dir")
    val spark = session(cpus, runDir)
    val setupS = sinceSpawn(a("spawn-ns").toLong)
    val out: scala.collection.Map[String, Any] = a.getOrElse("mode", "run") match {
      case "setup" => ListMap("setup_s" -> setupS)
      case "record" => record(spark, a("data"))
      case "profile" => profile(spark, a("data"), a("passes").toInt)
      case _ => new Run(spark, cpus, a, setupS).apply()
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")), Json(out).getBytes("UTF-8"))
    spark.stop()
  }

  /** The one session every mode uses: graft's rule and strategy on local
    * Spark with one shuffle partition per core. */
  def session(cpus: Int, runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$runDir/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Harness.quietBenignWindowWarns()
    spark.experimental.extraOptimizations = Seq(graft.plans.RewriteWindowTopK)
    spark.experimental.extraStrategies = Seq(graft.plans.TopKStrategy)
    spark
  }

  def record(spark: SparkSession, data: String): Map[String, Any] =
    ListMap("expected" -> SparkEntry.queries.keys.toSeq.sorted.map { q =>
      val df = SparkEntry.queries(q)(spark, data)
      val rows = df.queryExecution.toRdd.count()
      val (n, d) = Check.digest(SparkEntry.queries(q)(spark, data))
      require(n == rows, s"$q: digest saw $n rows, toRdd.count() $rows")
      ListMap("name" -> q, "rows" -> rows, "digest" -> d)
    })

  def profile(spark: SparkSession, data: String, passes: Int): Map[String, Any] = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    def time(q: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, data).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e6
    }
    val cold = names.map(q => q -> time(q)).toMap
    val warm = (1 to passes).flatMap(k => new scala.util.Random(k).shuffle(names).map(q => q -> time(q)))
      .groupMap(_._1)(_._2)
    ListMap("times" -> names.map(q =>
      ListMap("name" -> q, "cold_ms" -> cold(q), "warm_ms" -> Stats.median(warm(q)))))
  }

  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** One workload run. Pass 0 is the cold pass. Two unmeasured warm-up
  * passes follow, the first of which takes every core query's content
  * digest, so the JIT has settled before measured passes run for `seconds`
  * (at least [[MinMeasured]]). A traced run
  * alternates traced and untraced measured passes, so the tracing overhead
  * is measured in the same JVM, and then runs the kernel and streaming
  * probes.
  */
final class Run(spark: SparkSession, cpus: Int, a: Map[String, String], setupS: Double) {
  import Main.OpRec

  private val workload = a("workload")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val data = a("data")
  private val runDir = a("run-dir")
  private val sc = spark.sparkContext
  private val tracer = new Tracer(cpus)
  private var nextId = 0L
  private var tracing = false

  /** Traced runs alternate traced and untraced passes. */
  private val MinMeasured = if (traced) 4 else 3
  private val battery = Workloads.batteries.find(_.name == workload)
  private val core = battery.map(_.core).getOrElse(Nil)

  private final case class Pass(k: Int, traced: Boolean, wallS: Double, cpuS: Double,
                                ops: Seq[OpRec])

  def apply(): scala.collection.Map[String, Any] = {
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val members = Workloads.partition(SparkEntry.queries.keySet) match {
      case Left(problems) =>
        throw new IllegalStateException("partition guard: " + problems.mkString("; "))
      case Right(m) => m
    }
    val expected = Check.readExpected(a("expected"))

    // pass 0 is the cold pass; a traced run traces the odd passes
    def pass(k: Int): Pass = {
      System.gc()
      val on = traced && k % 2 == 1
      if (on) sc.addSparkListener(tracer)
      tracing = on
      val c0 = Main.cpuSeconds
      val t0 = System.nanoTime()
      val ops = new scala.util.Random(seed * 1000003L + k).shuffle(core)
        .map(q => query(q, k, expected))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Main.cpuSeconds - c0
      if (on) { org.apache.spark.BenchBus.drain(sc); sc.removeSparkListener(tracer) }
      tracing = false
      Pass(k, on, wall, cpu, ops)
    }

    val cold = pass(0)
    // warm-up: every core query's content digest, then one row-checked pass
    val w0 = System.nanoTime()
    val coreChecks = new scala.util.Random(seed).shuffle(core).map(q => digestCheck(q, expected))
    val warmOps = new scala.util.Random(seed + 1).shuffle(core).map(q => query(q, -1, expected))
    val warmupS = (System.nanoTime() - w0) / 1e9
    val passes = mutable.ArrayBuffer[Pass]()
    val measureStart = System.nanoTime()
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    while (passes.size < MinMeasured || elapsed < seconds)
      passes += pass(passes.size + 1)
    val peakRss = Main.peakRssMb

    // output check outside the timed region: this seed's sweep slice
    val sweep = Workloads.sweep(members(workload), seed).filterNot(core.contains)
    val s0 = System.nanoTime()
    val checks = coreChecks ++ sweep.map(q => digestCheck(q, expected))
    val sweepS = (System.nanoTime() - s0) / 1e9

    val measured = passes.toSeq
    val plain = measured.filterNot(_.traced)
    val ops = cold.ops ++ warmOps ++ passes.flatMap(_.ops)
    val failures = ops.flatMap(_.failure) ++ checks.flatten
    val attempted = ops.size + checks.size
    // each core query's median warm latency
    val opMedians = plain.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (n, rs) => n -> Stats.median(rs.map(_.ms)) }

    val warmPass = Stats.median(plain.map(_.wallS))
    val endToEnd = ListMap(
      "setup_s" -> (setupS, "s"),
      "cold_pass_s" -> (cold.wallS, "s"),
      "warm_pass_s" -> (warmPass, "s"),
      "op_geomean_ms" -> (math.exp(opMedians.map(x => math.log(x._2)).sum / opMedians.size), "ms"),
      "cpu_s" -> (Stats.median(plain.map(_.cpuS)), "s"),
      "peak_rss_mb" -> (peakRss, "MB"))
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "ops" -> core,
      "sweep" -> sweep, "members" -> members(workload).size,
      // each core query stands for members / core members of similar latency
      "full_pass_estimate_s" -> warmPass * members(workload).size / core.size,
      "measured_ops" -> plain.map(_.ops.size).sum,
      "warmup_s" -> warmupS, "sweep_s" -> sweepS, "measured_passes" -> measured.size,
      "pass_wall_s" -> passes.map(_.wallS), "pass_cpu_s" -> passes.map(_.cpuS),
      "failed_frac" -> failures.size.toDouble / attempted,
      "failures" -> failures.distinct,
      "op_ms_quartiles" -> ListMap(plain.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, rs) => n -> Seq(0.25, 0.5, 0.75).map(Stats.quantile(rs.map(_.ms), _)) }: _*))
    val out = mutable.LinkedHashMap[String, Any](
      "attempted" -> attempted, "failed" -> failures.size,
      "end_to_end" -> endToEnd.map { case (n, (v, u)) => n -> ListMap("value" -> v, "unit" -> u) },
      "detail" -> detail,
      "provenance" -> ListMap("spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "cpus" -> cpus, "shuffle_partitions" -> cpus))

    if (traced) {
      val s = tracer.summary(measured.filter(_.traced).map(_.k).toSet)
      val ingest = new Ingest(spark, data, s"$runDir/ingest")
      val (streaming, readBack) = ingest.probe()
      val sources = Probes.sources(spark, data, s"$runDir/probes")
      val functions = Probes.functions(spark, data)
      // operator probe: every TopKPerGroup member once, row-checked
      val topk = battery.get.topk.map { q =>
        try {
          val df = SparkEntry.queries(q)(spark, data)
          val rows = df.queryExecution.toRdd.count()
          val bad = expected.get(q).map(_.rows) match {
            case Some(e) if e == rows => None
            case e => Some(s"$q: $rows rows, expected ${e.getOrElse("none")}")
          }
          (Tracer.topkRows(df.queryExecution), bad)
        } catch { case e: Throwable => ((0L, 0L), Some(s"$q threw $e")) }
      }
      val plans = Seq("plans.topk_pruned_rows" -> (topk.map(_._1._1).sum.toDouble, "count"))
      val tracedWall = measured.filter(_.traced).map(_.wallS)
      val overhead = Seq("trace.slowdown" -> (Stats.median(tracedWall) / warmPass, "ratio"))
      val breakdown = s.median.toSeq.flatMap { case (o, parts) =>
        ("op.median_wall_ms" -> ((o.end - o.start).toDouble, "ms")) +:
          Tracer.Breakdown.map(p =>
            s"op.median.${p.replace('.', '_')}_ms" -> (parts.getOrElse(p, 0L).toDouble, "ms"))
      }
      val layer = s.layer ++ plans ++ streaming ++ sources ++ functions ++ overhead ++ breakdown
      out("per_layer") = ListMap(layer: _*).map { case (n, (v, u)) =>
        n -> ListMap("value" -> v, "unit" -> u) }
      val all = failures ++ readBack.flatten ++ topk.flatMap(_._2)
      val tracedAttempted = attempted + readBack.size + topk.size
      out("attempted") = tracedAttempted
      out("failed") = all.size
      detail("failed_frac") = all.size.toDouble / tracedAttempted
      detail("failures") = all.distinct
      detail("median_op") = s.median.map(_._1.name).getOrElse("")
      // zero on a healthy run, so reported beside the metrics: rows that
      // passed a full TopK group map, and median-op time no layer covers
      detail("plans.topk_passthrough_rows") = topk.map(_._1._2).sum
      detail("op.median.other_ms") = s.median.map(_._2.getOrElse("other", 0L)).getOrElse(0L)
      detail("traced_warm_pass_s") = Stats.median(tracedWall)
      detail("trace_overhead_s") = Stats.median(tracedWall) - warmPass
      s.zeroWhenHealthy.foreach { case (n, v) => detail(n) = v }
      out("spans") = s.spans
    }
    out
  }

  /** One query: construct, then `toRdd.count()` against the expected row
    * count. */
  private def query(q: String, pass: Int, expected: Map[String, Check.Expected]): OpRec = {
    nextId += 1
    val id = nextId
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      sc.setJobGroup(s"perfbench:$id:construct", q)
      val df = SparkEntry.queries(q)(spark, data)
      val m1 = System.currentTimeMillis()
      sc.setJobGroup(s"perfbench:$id:exec", q)
      val rows = df.queryExecution.toRdd.count()
      val ms = (System.nanoTime() - t0) / 1e6
      if (tracing) tracer.query(id, q, pass, m0, m1, System.currentTimeMillis(), df.queryExecution)
      val failure = expected.get(q) match {
        case None => Some(s"$q: no expected value")
        case Some(e) if e.rows != rows => Some(s"$q: $rows rows, expected ${e.rows}")
        case _ => None
      }
      OpRec(q, ms, failure)
    } catch {
      case e: Throwable => OpRec(q, (System.nanoTime() - t0) / 1e6, Some(s"$q threw $e"))
    } finally sc.clearJobGroup()
  }

  private def digestCheck(q: String, expected: Map[String, Check.Expected]): Option[String] =
    try {
      val (n, d) = Check.digest(SparkEntry.queries(q)(spark, data))
      expected.get(q) match {
        case Some(e) if e.rows == n && e.digest == d => None
        case e => Some(s"$q: content digest $n rows $d, expected " +
          e.map(x => s"${x.rows} rows ${x.digest}").getOrElse("none"))
      }
    } catch { case e: Throwable => Some(s"$q digest threw $e") }
}
