package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.gold.JdbcSink
import graft.ops.Exec

/** One timed batch: a fixed-size group of series or a registry pass. `index` is its position in the run.
  */
final case class Batch(index: Int, wallS: Double, ops: Seq[OpResult])

/** A named output check; `ok = false` makes the run incorrect. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What one workload does in each phase of a run. */
trait Workload {
  /** Input generation, timed in every set-up. */
  def inputs(spark: SparkSession): Unit
  /** JIT/codegen warm-up on other inputs, once, after the first set-up. */
  def warmUp(spark: SparkSession): Unit
  /** Wall time of one batch on a 4-core host, which sizes a run. */
  def nominalBatchS: Double
  /** One measured batch. */
  def batch(spark: SparkSession, tracer: Tracer, index: Int): Batch
  /** Output checks, run after the measured batches. */
  def check(spark: SparkSession): Seq[Check]
  /** Per-batch layer counts that are not span-derived (rows, bytes, retries). */
  def layerCounts(batches: Seq[Int]): Map[String, Double]
}

/** Peak driver heap live after a full collection: any the JVM runs on its
  * own during the measured batches, and one forced when they end. Young
  * collections do not count: after one, the old generation still holds every
  * promoted object, dead or alive. No collection is forced before or between
  * batches: it hands Spark's `ContextCleaner` the earlier batches' shuffles
  * and broadcasts, and their clean-up then slowed the next batch.
  */
object Heap {
  @volatile private var peak = 0L
  @volatile private var recording = false

  def install(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (recording && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcAction == "end of major GC")
            note(info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }

  private def note(live: Long): Unit = synchronized { if (live > peak) peak = live }

  def start(): Unit = { peak = 0L; recording = true }

  /** Ends the window with one full collection, after which the heap still
    * in use is live, and returns the peak in MiB.
    */
  def stopMb(): Double = {
    System.gc()
    note(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    recording = false
    peak / 1048576.0
  }
}

object Main {
  /** `tablesS`: seconds the harness spent writing this run's input tables
    * before it started the JVM; they count as set-up.
    */
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        dataDir: String, outDir: String, cores: Int, tablesS: Double)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("out"), m.getOrElse("cores", "4").toInt, need("tables-s").toDouble)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.outDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.outDir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(a: Args): Workload = a.workload match {
    case "medallion_series" => new SeriesWorkload(a.seed, a.outDir, a.seconds)
    case "registry" => new RegistryWorkload(a.seed, a.dataDir, a.outDir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** A fixed number of batches for a budget: the budget over the
    * workload's nominal batch time on a 4-core host, at least one. The work
    * of a run is then the same on every seed and every commit.
    */
  def batchesFor(w: Workload, budgetS: Double): Int =
    math.max(1, math.round(budgetS / w.nominalBatchS).toInt)

  private def measure(w: Workload, spark: SparkSession, tracer: Tracer, budgetS: Double): Seq[Batch] =
    (0 until batchesFor(w, budgetS)).map(i => w.batch(spark, tracer, i))

  private val start = System.nanoTime()

  /** Progress line in the run log: phase and seconds since JVM main. */
  private def phase(name: String): Unit =
    println(f"[perfbench] ${(System.nanoTime() - start) / 1e9}%8.2f s  $name")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.outDir))
    Heap.install()
    val w = workload(a)

    // set-up, cold and once: JVM start to a ready session with the inputs
    // generated, plus the tables the harness wrote before the JVM started;
    // the JIT warm-up follows, untimed, and is reported on its own
    val spark = session(a)
    w.inputs(spark)
    val setupS = a.tablesS + ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val w0 = System.nanoTime()
    w.warmUp(spark)
    val warmUpS = (System.nanoTime() - w0) / 1e9
    phase(f"set-up: $setupS%.2f s; warm-up: $warmUpS%.2f s")

    // untraced batches; a traced run alternates them with traced ones, so
    // both kinds see the same JIT state and their difference is the
    // tracing overhead
    val untraced = new Tracer(false)
    Heap.start()
    val (plain, traced) =
      if (!a.trace) (measure(w, spark, untraced, a.seconds), None)
      else {
        val tracer = new Tracer(true)
        val counters = new SparkCounters
        val sc = spark.sparkContext
        val pairs = (0 until batchesFor(w, a.seconds / 2)).map { i =>
          val p = w.batch(spark, untraced, 2 * i)
          org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
          sc.addSparkListener(counters)
          val t = w.batch(spark, tracer, 2 * i + 1)
          org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
          sc.removeSparkListener(counters)
          (p, t)
        }
        (pairs.map(_._1), Some((pairs.map(_._2), tracer.spans, counters.attribute(sc, tracer.spans))))
      }
    val heapMb = Heap.stopMb()

    phase("measured")
    val checks = w.check(spark)
    phase("checked")
    // host weather, read after the timed work; traced runs only, to keep
    // untraced runs short
    val canaryS = if (a.trace) graft.MicroBench.canarySecs(spark, a.dataDir, reps = 1) else 0.0

    val report = Report(a, setupS, warmUpS, plain, heapMb, traced, w, checks, canaryS)
    writeJson(s"${a.outDir}/result.json", report.result)
    traced.foreach { case (_, spans, work) => writeJson(s"${a.outDir}/spans.json", Report.spansJson(spans, work)) }
    phase("written")
    Exec.releaseAll(spark)
    spark.stop()
    phase("stopped")
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, value: Any): Unit =
    Files.write(Paths.get(path), mapper.writeValueAsString(value).getBytes(StandardCharsets.UTF_8))

  def derbyConfig(name: String, table: String): JdbcSink.JdbcConfig =
    JdbcSink.JdbcConfig(s"jdbc:derby:memory:$name;create=true", table, "", "")
}
