package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.TrainingData

/** One workload in one JVM: session start, an untimed set-up pass over the
  * workload's queries, then `--passes` timed passes.
  * Closed loop, one client: queries run one at a time, each materialized
  * to Spark's `noop` sink. Every pass visits the queries in an order
  * shuffled from `--seed`. A second untimed pass dumps each query's result
  * to `--verify <dir>` for the DuckDB oracle compare. Writes the raw
  * samples as JSON to `--out`; run.py turns them into metrics.
  *
  * With `--trace 1` a [[Tracer]] collects per-layer counters per query;
  * without it no listener is registered, so the end-to-end numbers come
  * from an untraced session.
  */
object Harness {
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  final case class Sample(name: String, ok: Boolean, latencyS: Double,
    buildS: Double, actionS: Double, layers: Map[String, Double], error: String)

  final case class Pass(index: Int, wallS: Double, cpuS: Double,
    samples: Seq[Sample], layers: Map[String, Double])

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Fixed pure-JVM work (no Spark, no I/O): its time before and after the
    * passes stamps how fast this host ran during the window. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 100000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 29
      i += 1
    }
    if (x == 42L) println("")
    secs(t0)
  }

  def vmHwmMb: Double = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    .find(_.startsWith("VmHWM:"))
    .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Length of the union of `[start, end)` intervals clipped to a window. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = o("data")
    val names = o("queries").split(",").toSeq
    val seed = o("seed").toLong
    val passes = o("passes").toInt
    val trace = o("trace") == "1"
    val cpus = o("cpus").toInt
    val work = o("work")
    val verify = o("verify")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val calBefore = calibrate()
    val warns = new WarnCounter("replaced a previously registered function")
    if (trace) warns.install()
    val t0 = System.nanoTime()
    // the confs of graft.Verify, so the measured plans are the
    // oracle-verified plans; scratch locations stay inside `work`
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.cteRecursionRowLimit", "2000000000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val sessionStartS = secs(t0)
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }
    // time spent waiting for the listener bus is tracing cost: it is
    // summed per pass and kept out of the pass's driver gap
    var drainS = 0.0
    def drain(): Unit = if (trace) { val d0 = System.nanoTime(); BusDrain(sc); drainS += secs(d0) }
    def phase(p: String): Unit = { sc.setLocalProperty(Tracer.PhaseKey, p); Tracer.phase.set(p) }

    val all = SparkEntry.queries
    val queries = names.map(n => n -> all.getOrElse(n, sys.error(s"unknown query $n")))

    def runQuery(name: String, fn: (SparkSession, String) => DataFrame): Sample = {
      val b = new Counters
      tracer.foreach(_.bucket = b)
      phase("build")
      val q0 = System.nanoTime()
      try {
        val df = fn(spark, data)
        val buildS = secs(q0)
        drain()
        phase("action")
        val a0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val actionS = secs(a0)
        val latencyS = secs(q0)
        drain()
        b.add("operators.build_s", buildS)
        b.add("exec.action_s", actionS)
        Sample(name, ok = true, latencyS, buildS, actionS, b.snapshot, "")
      } catch {
        case NonFatal(e) =>
          drain()
          Sample(name, ok = false, secs(q0), 0, 0, b.snapshot,
            s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      } finally phase("")
    }

    def runPass(k: Int): Pass = {
      val order = new scala.util.Random(seed * 1000003L + k).shuffle(queries)
      val persisted0 = sc.getPersistentRDDs.keySet
      tracer.foreach(_.intervals.clear())
      drainS = 0.0
      val (gc0, cpu0, warn0) = (gcMs, os.getProcessCpuTime, warns.count.get)
      val wall0Ms = System.currentTimeMillis()
      val p0 = System.nanoTime()
      val (samples, touched) =
        if (trace) TrainingData.loggedAccesses(order.map { case (n, f) => runQuery(n, f) })
        else (order.map { case (n, f) => runQuery(n, f) }, Set.empty[String])
      val wallS = secs(p0)
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      val layers = tracer.map { t =>
        val sums = samples.flatMap(_.layers).groupMapReduce(_._1)(_._2)(_ + _)
        val busy = covered(t.intervals.toSeq, wall0Ms, System.currentTimeMillis())
        val built = (sc.getPersistentRDDs.keySet -- persisted0).size
        // the pass as the program spent it: wall time less the bus drains
        val programS = wallS - drainS
        sums ++ Map(
          "trace.pass_s" -> wallS,
          "trace.drain_s" -> drainS,
          "exec.gc_s" -> (gcMs - gc0) / 1e3,
          "exec.driver_gap_s" -> math.max(0.0, programS - busy / 1e3),
          "exec.busy_share" -> sums.getOrElse("exec.task_run_s", 0.0) / (programS * cpus),
          "session.fn_replaced_warns" -> (warns.count.get - warn0).toDouble,
          "assets.built_in_pass" -> built.toDouble,
          "assets.accesses" -> touched.size.toDouble,
          "assets.hit_ratio" ->
            (if (touched.isEmpty) 1.0 else math.max(0, touched.size - built).toDouble / touched.size))
      }.getOrElse(Map.empty)
      Pass(k, wallS, cpuS, samples, layers)
    }

    val warm = runPass(0)
    // The second untimed pass writes each query's result to parquet for the
    // DuckDB oracle compare, as graft.Verify does, on this warm session. It
    // also warms the JVM further: pass time keeps falling for ~10 passes
    // while the JIT compiles, so the timed passes start after two.
    tracer.foreach(_.bucket = new Counters)
    val d0 = System.nanoTime()
    queries.foreach { case (name, fn) =>
      try fn(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$verify/$name")
      catch { case NonFatal(e) => System.err.println(s"[perfbench] $name: $e") }
    }
    Files.writeString(Paths.get(s"$verify/oracle_sql.json"),
      json.writeValueAsString(SparkEntry.oracleSql))
    val dumpS = secs(d0)
    // the dump pass's late events must not land in the first timed query
    drain()
    // set-up is the program's: the calibration loop before it is left out
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - calBefore
    val stored = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    val assetsAfterSetup = Map(
      "assets.count" -> stored.length.toDouble,
      "assets.storage_mb" -> stored.map(r => r.memSize + r.diskSize).sum / 1048576.0)

    val m0 = System.nanoTime()
    val timed = (1 to passes).map(runPass)
    val measuredS = secs(m0)
    val calAfter = calibrate()

    def sample(s: Sample): Map[String, Any] = Map("name" -> s.name, "ok" -> s.ok,
      "latency_s" -> s.latencyS, "build_s" -> s.buildS, "action_s" -> s.actionS,
      "layers" -> s.layers, "error" -> s.error)
    def pass(p: Pass): Map[String, Any] = Map("index" -> p.index, "wall_s" -> p.wallS,
      "cpu_s" -> p.cpuS, "layers" -> p.layers, "samples" -> p.samples.map(sample))
    val result = Map(
      "seed" -> seed, "cpus" -> cpus, "trace" -> trace, "queries" -> names,
      "setup_s" -> setupS, "session_start_s" -> sessionStartS,
      "dump_pass_s" -> dumpS,
      "warm_pass" -> pass(warm), "passes" -> timed.map(pass),
      "measured_s" -> measuredS, "peak_rss_mb" -> vmHwmMb,
      "calibration_s" -> Map("before" -> calBefore, "after" -> calAfter),
      "assets_after_setup" -> assetsAfterSetup)
    Files.writeString(Paths.get(o("out")), json.writeValueAsString(result))

    TrainingData.unpersistAll()
    spark.stop()
  }
}
