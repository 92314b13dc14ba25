package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Output checks written apart from the program: every reference here
  * is recomputed from the method's definition (the tile-grid formula,
  * the pages-table formula, greedy NMS, numpy's median, the shoelace
  * area), never copied from the program's output. Each check returns
  * the list of what it found wrong; empty means the output passed. */
object Checks {

  // ---- tile grid: n = 1 + ceil((extent - tile) / (tile - overlap)),
  //      origins = linspace(0, extent - tile, n) truncated ------------

  def origins(extent: Long, tile: Long, overlap: Long): Array[Long] = {
    if (extent <= tile) return Array(0L)
    val stop = extent - tile
    val n = 1 + ((stop + (tile - overlap) - 1) / (tile - overlap)).toInt
    // numpy.linspace: start + k * (stop / (n - 1)), endpoint pinned to stop
    Array.tabulate(n)(k => if (k == n - 1) stop else (k * (stop.toDouble / (n - 1))).toLong)
  }

  /** Page geocode, from the pages-table definition (an LCG over the
    * 2048² reference extent plus the 13×11 hot spot every 41st page). */
  def pageXY(i: Long): (Double, Double) =
    if (i % 41 == 0) ((640 + i % 13).toDouble, (832 + i % 11).toDouble)
    else (((i * 1103515245L + 12345L) % 2048).toDouble, ((i * 69069L + 1L) % 2048).toDouble)

  /** Brute force: for every page in [start, start + n), test every tile
    * of the grid for containment in its half-open window. Keyed by
    * (region, tile id), tile ids y-major. */
  def tileCounts(start: Long, n: Long, extent: Long, tile: Long, overlap: Long,
                 pagesPerRegion: Long): Map[(Long, Long), Long] = {
    val o = origins(extent, tile, overlap)
    val out = mutable.HashMap.empty[(Long, Long), Long]
    var i = start
    while (i < start + n) {
      val (x, y) = pageXY(i)
      val region = i / pagesPerRegion
      for (yi <- o.indices; xi <- o.indices) {
        if (x >= o(xi) && x < o(xi) + tile && y >= o(yi) && y < o(yi) + tile) {
          val k = (region, yi.toLong * o.length + xi)
          out(k) = out.getOrElse(k, 0L) + 1
        }
      }
      i += 1
    }
    out.toMap
  }

  def sameCounts(got: Map[(Long, Long), Long], want: Map[(Long, Long), Long]): Seq[String] = {
    val bad = (got.keySet ++ want.keySet).toSeq.sorted
      .filter(k => got.getOrElse(k, 0L) != want.getOrElse(k, 0L))
    bad.take(3).map(k => s"(region, tile) $k: ${got.getOrElse(k, 0L)} assignments, " +
      s"brute force gives ${want.getOrElse(k, 0L)}") ++
      (if (bad.size > 3) Seq(s"... ${bad.size} (region, tile) counts differ") else Nil)
  }

  // ---- pages text: 'url=' url ' lang=' lang ' body='
  //      (md5(url)[0:8] ' ') * (1 + i % 7) md5(url) ------------------

  def md5Hex(s: String): String = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  def lang(i: Long): String = (i % 20) match {
    case k if k < 10 => "en"
    case k if k < 13 => "de"
    case k if k < 15 => "fr"
    case 15 => "es"
    case 16 => "zh"
    case 17 => "ru"
    case 18 => "pt"
    case _ => "ja"
  }

  def url(i: Long): String = f"https://host-${i % 1000}%04d.example/page-$i%08d"

  def text(i: Long): String = {
    val u = url(i)
    val h = md5Hex(u)
    s"url=$u lang=${lang(i)} body=" + (h.take(8) + " ") * (1 + (i % 7).toInt) + h
  }

  /** (i, url, text) rows as the program produced them. */
  def textRows(rows: Seq[(Long, String, String)]): Seq[String] =
    rows.collect {
      case (i, u, t) if u != url(i) || t != text(i) =>
        s"page $i: text is not the MD5 template of its url"
    }.take(3)

  // ---- merged crowns -------------------------------------------------

  final case class Merged(region: Long, classIdx: Int, ids: Array[Long], score: Double,
                          scores: Array[Double], minX: Double, minY: Double,
                          maxX: Double, maxY: Double, area: Double,
                          parts: Array[Array[Double]])

  /** numpy.median: middle value, or the mean of the middle two. */
  def npMedian(xs: Array[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def shoelace(c: Array[Double]): Double = {
    val n = c.length / 2
    var s = 0.0
    for (k <- 0 until n) {
      val j = (k + 1) % n
      s += c(2 * k) * c(2 * j + 1) - c(2 * j) * c(2 * k + 1)
    }
    math.abs(s) / 2.0
  }

  def merged(ms: Seq[Merged], confThr: Double): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val seen = mutable.HashSet.empty[Long]
    ms.foreach { m =>
      m.ids.foreach(id => if (!seen.add(id)) errs += s"member id $id is in two merged crowns")
      if (m.scores.isEmpty || m.score != npMedian(m.scores))
        errs += s"crown ${m.ids.headOption.getOrElse(-1L)}: score ${m.score} is not the median of its scores"
      if (!(m.score > confThr))
        errs += s"crown ${m.ids.headOption.getOrElse(-1L)}: score ${m.score} not above $confThr"
      if (m.ids.length == 1 && m.parts.length == 1) {
        val p = m.parts(0)
        val a = shoelace(p)
        if (math.abs(a - m.area) > 1e-9 * math.max(1.0, a))
          errs += s"crown ${m.ids(0)}: area ${m.area}, shoelace area $a"
        val xs = p.indices.filter(_ % 2 == 0).map(p)
        val ys = p.indices.filter(_ % 2 == 1).map(p)
        if (m.minX != xs.min || m.maxX != xs.max || m.minY != ys.min || m.maxY != ys.max)
          errs += s"crown ${m.ids(0)}: bbox is not its polygon's envelope"
      }
    }
    errs.take(3).toSeq ++ (if (errs.size > 3) Seq(s"... ${errs.size} merged-crown faults") else Nil)
  }

  // ---- naive greedy bbox NMS: score descending, ties to the lower id,
  //      suppress on IoU > thr against any kept box -------------------

  final case class Box(id: Long, score: Double, x0: Double, y0: Double, x1: Double, y1: Double)

  def naiveNms(boxes: Seq[Box], thr: Double): Set[Long] = {
    val order = boxes.sortBy(b => (-b.score, b.id)).toArray
    // kept boxes in flat primitive arrays: one-image groups reach ~10^4
    // boxes, and the quadratic scan must stay a second or two
    val kx0, ky0, kx1, ky1 = new Array[Double](order.length)
    val keptIds = mutable.ArrayBuffer.empty[Long]
    var n = 0
    order.foreach { b =>
      val area = (b.x1 - b.x0) * (b.y1 - b.y0)
      var k = 0
      var keep = true
      while (keep && k < n) {
        val iw = math.min(kx1(k), b.x1) - math.max(kx0(k), b.x0)
        if (iw > 0) {
          val ih = math.min(ky1(k), b.y1) - math.max(ky0(k), b.y0)
          if (ih > 0) {
            val inter = iw * ih
            val union = (kx1(k) - kx0(k)) * (ky1(k) - ky0(k)) + area - inter
            if (union > 0 && inter / union > thr) keep = false
          }
        }
        k += 1
      }
      if (keep) {
        kx0(n) = b.x0; ky0(n) = b.y0; kx1(n) = b.x1; ky1(n) = b.y1
        keptIds += b.id
        n += 1
      }
    }
    keptIds.toSet
  }

  /** Every member id of the merged crowns of one (region, class) group
    * must survive naive NMS over that group's crowns above confThr. */
  def survivors(memberIds: Seq[Long], kept: Set[Long]): Seq[String] =
    memberIds.filterNot(kept).take(3).map(id => s"member id $id was suppressed by naive NMS")

  // ---- committed tables ----------------------------------------------

  /** Row-set equality with multiplicity: exceptAll in both directions. */
  def sameRows(what: String, got: DataFrame, want: DataFrame): Seq[String] = {
    val g = got.select(want.columns.toIndexedSeq.map(col): _*)
    val extra = g.exceptAll(want).count()
    val missing = want.exceptAll(g).count()
    if (extra == 0 && missing == 0) Nil
    else Seq(s"$what: $extra rows not in the reference, $missing reference rows missing")
  }

  /** Lineage (unitKey, snapshotId) pairs: each expected region in
    * exactly one snapshot, no other region. */
  def lineageOnce(stage: String, pairs: Seq[(Long, Long)], regions: Set[Long]): Seq[String] = {
    val snaps = pairs.distinct.groupBy(_._1).map { case (k, v) => k -> v.size }
    val twice = snaps.filter(_._2 > 1).keys.toSeq.sorted
    val missing = (regions -- snaps.keySet).toSeq.sorted
    val extra = (snaps.keySet -- regions).toSeq.sorted
    (if (twice.nonEmpty) Seq(s"$stage lineage: regions ${twice.take(5).mkString(",")} in more than one snapshot") else Nil) ++
      (if (missing.nonEmpty) Seq(s"$stage lineage: regions ${missing.take(5).mkString(",")} missing") else Nil) ++
      (if (extra.nonEmpty) Seq(s"$stage lineage: unexpected regions ${extra.take(5).mkString(",")}") else Nil)
  }

  /** A stats row: (region, classIdx) -> (n_crowns, total_area,
    * mean_score, max_score, n_members). */
  type Stat = (Long, Double, Double, Double, Long)

  /** Per-(region, class) aggregates recomputed from merged rows
    * (region, classIdx, area, score, member count). */
  def statsOf(rows: Seq[(Long, Int, Double, Double, Int)]): Map[(Long, Int), Stat] =
    rows.groupBy(r => (r._1, r._2)).map { case (k, g) =>
      k -> ((g.size.toLong, g.map(_._3).sum, g.map(_._4).sum / g.size, g.map(_._4).max,
        g.map(_._5.toLong).sum))
    }

  def stats(got: Map[(Long, Int), Stat], want: Map[(Long, Int), Stat]): Seq[String] = {
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    (got.keySet ++ want.keySet).toSeq.sorted.flatMap { k =>
      (got.get(k), want.get(k)) match {
        case (Some(g), Some(w)) if g._1 == w._1 && g._5 == w._5 && g._4 == w._4 &&
            close(g._2, w._2) && close(g._3, w._3) => None
        case (g, w) => Some(s"stats $k: committed $g, recomputed $w")
      }
    }.take(3)
  }
}
