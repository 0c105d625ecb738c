package graft.perfbench

/** Turns a run's batches, spans and counters into the metrics the harness
  * prints: end-to-end from the untraced batches, per-layer from the traced
  * ones (values per batch).
  */
final case class Report(a: Main.Args, setupS: Double, warmUpS: Double, plain: Seq[Batch], heapMb: Double,
                        traced: Option[(Seq[Batch], Seq[Span], Map[Int, Work])],
                        w: Workload, checks: Seq[Check], canaryS: Double) {
  import Report._

  private val allOps = (plain ++ traced.map(_._1).getOrElse(Nil)).flatMap(_.ops)
  private val latencies = plain.flatMap(_.ops).flatMap(_.latencyS)

  def endToEnd: Map[String, (Double, String)] = Map(
    "setup_s" -> (setupS, "s"),
    "wall_s" -> (wallPerBatch(plain), "s"),
    "obs_per_s" -> (plain.flatMap(_.ops).map(_.obs).sum / plain.map(_.wallS).sum, "obs/s"),
    "latency_p50_s" -> (quantileOr0(latencies, 0.5), "s"),
    "live_heap_peak_mb" -> (heapMb, "MiB"))

  def perLayer: Map[String, (Double, String)] = traced match {
    case None => Map.empty
    case Some((batches, spans, work)) =>
      val n = batches.size.toDouble
      def inLayer(s: Span, layer: String) = s.name == layer || s.name.startsWith(layer + ".")
      def secs(layer: String) = spans.filter(_.name == layer).map(_.durationS).sum / n
      def wk(layers: String*): Work =
        spans.filter(s => layers.exists(inLayer(s, _))).flatMap(s => work.get(s.id)).foldLeft(Work())(_ + _)
      val all = work.values.foldLeft(Work())(_ + _)
      val wall = wallPerBatch(batches)
      val counts = w.layerCounts(batches.map(_.index))
      val silver = wk("silver")
      val quality = wk("quality")
      val gold = wk("gold")
      val medallion = Seq[(String, Double, String)](
        ("silver.build_s", secs("silver.build"), "s"),
        ("silver.write_s", secs("silver.write"), "s"),
        ("silver.rows", counts.getOrElse("silver.rows", 0.0), "rows"),
        ("silver.bytes", counts.getOrElse("silver.bytes", 0.0), "B"),
        ("silver.jobs", silver.jobs / n, "count"),
        ("silver.tasks", silver.tasks / n, "count"),
        ("silver.executor_s", silver.executorS / n, "s"),
        ("silver.shuffle_bytes", silver.shuffleBytes / n, "B"),
        ("silver.spill_bytes", silver.spillBytes / n, "B"),
        ("quality.s", secs("quality"), "s"),
        ("quality.jobs", quality.jobs / n, "count"),
        ("quality.executor_s", quality.executorS / n, "s"),
        ("quality.rejected", counts.getOrElse("quality.rejected", 0.0), "count"),
        ("gold.rows", counts.getOrElse("gold.rows", 0.0), "rows"),
        ("gold.jobs", gold.jobs / n, "count"),
        ("gold.executor_s", gold.executorS / n, "s"),
        ("gold.jdbc_s", secs("gold.jdbc"), "s"),
        ("bronze.s", secs("bronze"), "s"),
        ("bronze.bytes", counts.getOrElse("bronze.bytes", 0.0), "B"),
        ("bronze.fetch_retries", counts.getOrElse("bronze.fetch_retries", 0.0), "count"),
        ("stored_bytes_per_obs", counts.getOrElse("stored_bytes_per_obs", 0.0), "B/obs"))
      val registry = Registry.Families.flatMap { f =>
        val layer = s"registry.$f"
        val fw = wk(layer)
        Seq((s"$layer.s", secs(layer), "s"),
          (s"$layer.build_s", secs(s"$layer.build"), "s"),
          (s"$layer.action_s", secs(s"$layer.action"), "s"),
          (s"$layer.jobs", fw.jobs / n, "count"),
          (s"$layer.executor_s", fw.executorS / n, "s"),
          (s"$layer.shuffle_bytes", fw.shuffleBytes / n, "B"))
      }
      val sparkWide = Seq[(String, Double, String)](
        ("spark.jobs", all.jobs / n, "count"),
        ("spark.tasks", all.tasks / n, "count"),
        ("spark.executor_s", all.executorS / n, "s"),
        ("spark.shuffle_bytes", all.shuffleBytes / n, "B"),
        ("spark.spill_bytes", all.spillBytes / n, "B"),
        ("spark.effective_parallelism", all.executorS / n / wall, "ratio"),
        ("host.canary_s", canaryS, "s"),
        ("failed_share", failedShare, "ratio"),
        // a run holds too few samples to bound a tail: reported, not gated
        ("latency_p95_s", quantileOr0(allOps.flatMap(_.latencyS), 0.95), "s"),
        ("trace.wall_s", wall, "s"),
        ("trace.overhead_s", wall - wallPerBatch(plain), "s"))
      (medallion ++ registry ++ sparkWide).map { case (k, v, u) => k -> (v, u) }.toMap
  }

  def failedShare: Double = allOps.count(_.outcome == Outcome.Failed).toDouble / math.max(1, allOps.size)

  def result: Map[String, Any] = Map(
    "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
    "attempted" -> allOps.size,
    "failed" -> allOps.count(_.outcome == Outcome.Failed),
    "rejected" -> allOps.count(_.outcome == Outcome.Rejected),
    "errors" -> allOps.flatMap(o => o.error.map(e => Map("key" -> o.key, "error" -> e))).take(20),
    "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
    "metrics" -> render(endToEnd),
    "per_layer" -> render(perLayer),
    "samples" -> Map("batches" -> plain.size, "latency" -> latencies.size,
      "latency_all" -> allOps.count(_.latencyS.isDefined),
      "traced_batches" -> traced.map(_._1.size).getOrElse(0)),
    "setup_s" -> setupS,
    "warm_up_s" -> warmUpS,
    "batch_wall_s" -> plain.map(_.wallS),
    "traced_batch_wall_s" -> traced.map(_._1.map(_.wallS)).getOrElse(Nil),
    "canary_s" -> canaryS,
    "ops" -> allOps.map(o => Map("kind" -> o.kind, "key" -> o.key, "outcome" -> o.outcome.label,
      "latency_s" -> o.latencyS, "obs" -> o.obs)))
}

object Report {
  /** Wall time of the measured work over its batch count. A run holds only
    * three to five batches: their mean uses all of them, and it spread less
    * from run to run than their median did.
    */
  def wallPerBatch(batches: Seq[Batch]): Double = batches.map(_.wallS).sum / batches.size

  def quantileOr0(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) 0.0 else Ops.quantile(xs, p)

  def render(m: Map[String, (Double, String)]): Map[String, Map[String, Any]] =
    m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }

  def spansJson(spans: Seq[Span], work: Map[Int, Work]): Seq[Map[String, Any]] = {
    val self = Tracer.selfSeconds(spans)
    spans.sortBy(_.startMs).map { s =>
      val wk = work.getOrElse(s.id, Work())
      Map("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_s" -> self(s.id),
        "jobs" -> wk.jobs, "tasks" -> wk.tasks, "executor_s" -> wk.executorS,
        "shuffle_bytes" -> wk.shuffleBytes, "spill_bytes" -> wk.spillBytes)
    }
  }
}
