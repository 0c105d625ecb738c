package graft.perfbench

import scala.util.Random

import graft.bronze.Ingest

/** Shape of one HICP cube: unit × coicop × geo × month, plus the single-code
  * `freq` dimension Eurostat puts first.
  */
final case class CubeSpec(dataset: String, units: Seq[String], coicops: Seq[String],
                          geos: Seq[String], months: Seq[String], sparse: Boolean) {
  def cells: Long = units.size.toLong * coicops.size * geos.size * months.size
}

/** One generated JSON-stat payload. */
final case class Payload(spec: CubeSpec, json: String)

/** One request of the per-series workload. `gapAt` drops that month from the
  * time dimension (the quality gate must FAIL it); `failUnit` makes the first
  * fetch attempt with `unit=` throw; `replay` loads the series a second time.
  */
final case class SeriesSpec(geo: String, coicop: String, payload: Payload,
                            gapAt: Option[Int], failUnit: Boolean, replay: Boolean) {
  def months: Int = payload.spec.months.size
}

/** Seeded HICP-shaped JSON-stat generator. The seed stays here: the program
  * only ever sees the payloads, through the injected [[Ingest.Fetch]].
  */
object Inputs {
  val Base = "https://ec.europa.eu/eurostat/api/dissemination/statistics/1.0/data"

  def months(fromYear: Int, n: Int): Seq[String] =
    (0 until n).map(i => f"${fromYear + i / 12}%04dM${i % 12 + 1}%02d")

  private def codes(prefix: String, n: Int): Seq[String] = (0 until n).map(i => f"$prefix$i%02d")

  /** Index levels: a positive random walk per series around 100, so every
    * generated series passes the gate unless a month is cut out of it.
    */
  def values(spec: CubeSpec, rnd: Random): Array[Double] = {
    val t = spec.months.size
    val out = new Array[Double]((spec.cells).toInt)
    var i = 0
    while (i < out.length) {
      var level = 80 + rnd.nextDouble() * 40
      var m = 0
      while (m < t) {
        level = math.max(0.1, level * (1 + (rnd.nextDouble() - 0.45) * 0.01))
        out(i + m) = math.round(level * 100) / 100.0
        m += 1
      }
      i += t
    }
    out
  }

  def payload(spec: CubeSpec, rnd: Random): Payload = {
    val vs = values(spec, rnd)
    val sb = new java.lang.StringBuilder(vs.length * 9 + 4096)
    def dim(name: String, cs: Seq[String]): Unit = {
      sb.append('"').append(name).append("\": {\"label\": \"").append(name)
        .append("\", \"category\": {\"index\": {")
      cs.zipWithIndex.foreach { case (c, j) =>
        if (j > 0) sb.append(", ")
        sb.append('"').append(c).append("\": ").append(j)
      }
      sb.append("}}}")
    }
    val dims = Seq("freq" -> Seq("M"), "unit" -> spec.units, "coicop" -> spec.coicops,
      "geo" -> spec.geos, "time" -> spec.months)
    sb.append("{\"version\": \"2.0\", \"class\": \"dataset\", \"label\": \"")
      .append(spec.dataset).append("\", \"source\": \"ESTAT\", \"id\": [")
      .append(dims.map(d => "\"" + d._1 + "\"").mkString(", ")).append("], \"size\": [")
      .append(dims.map(_._2.size).mkString(", ")).append("], \"dimension\": {")
    dims.zipWithIndex.foreach { case ((n, cs), j) => if (j > 0) sb.append(", "); dim(n, cs) }
    sb.append("}, \"value\": ")
    if (spec.sparse) {
      sb.append('{')
      var i = 0
      while (i < vs.length) {
        if (i > 0) sb.append(", ")
        sb.append('"').append(i).append("\": ").append(vs(i))
        i += 1
      }
      sb.append('}')
    } else {
      sb.append('[')
      var i = 0
      while (i < vs.length) { if (i > 0) sb.append(", "); sb.append(vs(i)); i += 1 }
      sb.append(']')
    }
    sb.append('}')
    Payload(spec, sb.toString)
  }

  /** Series per group: a gapped, a fallback, a replayed and a plain one. */
  val SeriesGroup = 4

  /** Distinct single series for `medallion_series`, each 300 months, in
    * groups of [[SeriesGroup]]. Every group holds the same mix at seeded
    * positions: one series in the dense `value` array and the rest in the
    * sparse-object encoding the API serves; one with a month gap (the gate
    * must FAIL it), one whose `unit=` fetch fails, one replayed.
    */
  def series(seed: Long, groups: Int): IndexedSeq[SeriesSpec] = {
    val rnd = new Random(seed)
    val keys = rnd.shuffle(for (g <- codes("G", 40); c <- codes("CP", 60)) yield (g, c))
    require(groups * SeriesGroup <= keys.size, s"at most ${keys.size / SeriesGroup} groups")
    val all = months(1996, 300)
    (0 until groups).flatMap { gi =>
      val roles = rnd.shuffle((0 until SeriesGroup).toIndexedSeq)
      val dense = rnd.nextInt(SeriesGroup)
      (0 until SeriesGroup).map { j =>
        val (g, c) = keys(gi * SeriesGroup + j)
        val gapAt = if (roles(j) == 0) Some(1 + rnd.nextInt(all.size - 2)) else None
        val ms = gapAt.fold(all)(k => all.patch(k, Nil, 1))
        val spec = CubeSpec("prc_hicp_midx", Seq("I15"), Seq(c), Seq(g), ms, sparse = j != dense)
        SeriesSpec(g, c, payload(spec, rnd), gapAt, failUnit = roles(j) == 1, replay = roles(j) == 2)
      }
    }
  }

  /** The injected fetch: serves generated payloads by (dataset, geo, coicop)
    * and throws on the `unit=` attempt of series flagged to fail it, so the
    * program's fallback retries without the unit.
    */
  final class Fetch(payloads: Map[(String, String, String), Payload],
                    failUnit: Set[(String, String)]) extends Ingest.Fetch {
    @volatile var failures = 0L

    def apply(url: String): String = {
      val path = url.takeWhile(_ != '?')
      val dataset = path.substring(path.lastIndexOf('/') + 1)
      val params = url.dropWhile(_ != '?').drop(1).split('&').map { kv =>
        val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
      }.toMap
      val geo = params.getOrElse("geo", "")
      val coicop = params.getOrElse("coicop", "")
      if (params.contains("unit") && failUnit((geo, coicop))) {
        failures += 1
        throw new RuntimeException(s"fetch failed 400: unit not available for $geo/$coicop")
      }
      payloads.getOrElse((dataset, geo, coicop),
        throw new RuntimeException(s"fetch failed 404: $url")).json
    }
  }
}
