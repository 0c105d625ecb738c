package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ops.Exec

/** Local directory trees the series runs write. */
object Dirs {
  private def walk[T](dir: String)(f: java.util.stream.Stream[Path] => T): Option[T] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) None
    else {
      val s = Files.walk(root)
      try Some(f(s)) finally s.close()
    }
  }

  def delete(dir: String): Unit =
    walk(dir)(_.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p)))

  /** Bytes under a directory tree (0 if it does not exist). */
  def bytesUnder(dir: String): Long =
    walk(dir)(_.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()).getOrElse(0L)
}

/** Per-batch layer counts of the series workload. */
final case class LayerCounts(bronzeBytes: Long, silverRows: Long, silverBytes: Long,
                             goldRows: Long, storedBytes: Long, fetchRetries: Long, rejected: Long)

/** `medallion_series`: single series loaded one at a time into Derby. */
final class SeriesWorkload(seed: Long, outDir: String, seconds: Double) extends Workload {
  val PerBatch: Int = Inputs.SeriesGroup
  val nominalBatchS = 3.3
  private val dir = s"$outDir/series"
  private val cfg = Main.derbyConfig(s"perfbench_gold_$seed", "fact_hicp")
  private var pool: IndexedSeq[SeriesSpec] = IndexedSeq.empty
  private var fetch: Inputs.Fetch = _
  private val done = mutable.ArrayBuffer.empty[SeriesSpec]
  private val counts = mutable.Map.empty[Int, LayerCounts]

  private def fetchFor(ss: Seq[SeriesSpec]) = new Inputs.Fetch(
    ss.map(s => (s.payload.spec.dataset, s.geo, s.coicop) -> s.payload).toMap,
    ss.filter(_.failUnit).map(s => (s.geo, s.coicop)).toSet)

  def inputs(spark: SparkSession): Unit = {
    // one group of series per batch, distinct across the run
    pool = Inputs.series(seed, 2 * Main.batchesFor(this, seconds))
    fetch = fetchFor(pool)
  }

  /** Four groups of other series, every role in each. */
  def warmUp(spark: SparkSession): Unit = {
    val warm = Inputs.series(seed + 1, 4)
    val m = new Medallion(spark, new Tracer(false))
    val warmCfg = Main.derbyConfig(s"perfbench_warm_$seed", "fact_hicp")
    warm.foreach(s => m.seriesRun(s"$outDir/warmup", s, fetchFor(warm), warmCfg))
    Dirs.delete(s"$outDir/warmup")
  }

  def batch(spark: SparkSession, tracer: Tracer, index: Int): Batch = {
    val m = new Medallion(spark, tracer)
    val specs = pool.slice(index * PerBatch, (index + 1) * PerBatch)
    require(specs.size == PerBatch, s"series pool exhausted at batch $index")
    val retries0 = fetch.failures
    val t0 = System.nanoTime()
    val ops = specs.flatMap { s =>
      val loads = if (s.replay) Seq("", "#replay") else Seq("")
      loads.map { tag =>
        tracer.newOp()
        Ops.run("series", s"${s.geo}/${s.coicop}$tag") {
          tracer.span("medallion.series") { m.seriesRun(dir, s, fetch, cfg) }
        }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    done ++= specs
    val silverRows = specs.map(s => s.months.toLong * (if (s.replay) 2 else 1)).sum
    counts(index) = LayerCounts(Dirs.bytesUnder(s"$dir/bronze"), silverRows,
      Dirs.bytesUnder(s"$dir/silver"), ops.map(_.obs).sum, Dirs.bytesUnder(dir),
      fetch.failures - retries0, ops.count(_.outcome == Outcome.Rejected))
    Batch(index, wall, ops)
  }

  def layerCounts(batches: Seq[Int]): Map[String, Double] = {
    val cs = batches.flatMap(counts.get)
    def per(f: LayerCounts => Long): Double = if (cs.isEmpty) 0.0 else cs.map(f).sum.toDouble / cs.size
    val obs = cs.map(_.goldRows).sum
    Map(
      "bronze.bytes" -> per(_.bronzeBytes), "bronze.fetch_retries" -> per(_.fetchRetries),
      "silver.rows" -> per(_.silverRows), "silver.bytes" -> per(_.silverBytes),
      "gold.rows" -> per(_.goldRows), "quality.rejected" -> per(_.rejected),
      "stored_bytes_per_obs" -> (if (obs == 0) 0.0 else cs.map(_.storedBytes).sum.toDouble / obs))
  }

  def check(spark: SparkSession): Seq[Check] = {
    val conn = java.sql.DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
    val loaded = try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT geo, coicop, COUNT(*), COUNT(DISTINCT time) FROM ${cfg.table} GROUP BY geo, coicop")
      val out = mutable.Map.empty[(String, String), (Long, Long)]
      while (rs.next()) out((rs.getString(1), rs.getString(2))) = (rs.getLong(3), rs.getLong(4))
      out.toMap
    } finally conn.close()
    val clean = done.filter(_.gapAt.isEmpty)
    val wrongRows = clean.filter(s => !loaded.get((s.geo, s.coicop)).contains((s.months.toLong, s.months.toLong)))
    val gappedLoaded = done.filter(s => s.gapAt.isDefined && loaded.contains((s.geo, s.coicop)))
    val extra = loaded.keySet -- done.map(s => (s.geo, s.coicop))
    Seq(
      Check("series.rows_equal_months", wrongRows.isEmpty,
        s"${clean.size - wrongRows.size}/${clean.size} series match; first bad: ${wrongRows.headOption.map(s => s.geo + "/" + s.coicop)}"),
      Check("series.replays_not_duplicated",
        done.filter(s => s.replay && s.gapAt.isEmpty).forall(s => loaded.get((s.geo, s.coicop)).exists(_._1 == s.months)),
        s"${done.count(s => s.replay && s.gapAt.isEmpty)} replayed series"),
      Check("series.gapped_absent_from_gold", gappedLoaded.isEmpty && extra.isEmpty,
        s"${done.count(_.gapAt.isDefined)} gapped; ${gappedLoaded.size} loaded; ${extra.size} unexpected keys"))
  }
}

/** `registry`: the measured query set, one query at a time, seeded order. */
final class RegistryWorkload(seed: Long, dataDir: String, outDir: String) extends Workload {
  private val names = Registry.order(seed)
  val nominalBatchS = 5.4
  private val kept = mutable.ArrayBuffer.empty[Registry.Answer]

  /** The tables are generated before the JVM starts; set-up opens them. */
  def inputs(spark: SparkSession): Unit =
    Seq("lineitem", "orders", "events", "documents", "embeddings")
      .foreach(t => graft.Tables.table(spark, dataDir, t).schema)

  /** Two untimed passes over the same tables: codegen and the JIT see the
    * plans the measured pass runs. After only one, the queries early in the
    * measured pass still ran measurably slower than the late ones.
    */
  def warmUp(spark: SparkSession): Unit = (1 to 2).foreach { _ =>
    Exec.releaseAll(spark)
    names.foreach(n => Registry.run(spark, new Tracer(false), n, dataDir, _ => ()))
  }

  def batch(spark: SparkSession, tracer: Tracer, index: Int): Batch = {
    // each pass is a fresh session for the memos, as in graft.Bench
    Exec.releaseAll(spark)
    val keep: Registry.Answer => Unit = if (index == 0) kept += _ else _ => ()
    val t0 = System.nanoTime()
    val ops = names.map(n => { tracer.newOp(); Registry.run(spark, tracer, n, dataDir, keep) })
    Batch(index, (System.nanoTime() - t0) / 1e9, ops)
  }

  /** Writes the first pass's answers in `graft.Verify`'s layout (one
    * parquet directory per query under `answers/`, beside
    * `answers/oracle_sql.json`); the harness compares them with their DuckDB
    * oracles by `tools/selfcheck.py`.
    */
  def check(spark: SparkSession): Seq[Check] = {
    val dir = s"$outDir/answers"
    Files.createDirectories(Paths.get(dir))
    kept.foreach { x =>
      spark.createDataFrame(java.util.Arrays.asList(x.rows: _*), x.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/${x.name}")
    }
    Main.writeJson(s"$dir/oracle_sql.json", kept.map(x => x.name -> SparkEntry.oracleSql(x.name)).toMap)
    Nil
  }

  def layerCounts(batches: Seq[Int]): Map[String, Double] = Map.empty
}
