package perfbench

import org.apache.spark.sql.SparkSession

import Checks._

/** The checks' own tests, run by every benchmark run: each independent
  * reference reproduces a case worked by hand, and each check must
  * reject a deliberately corrupted output. Returns what went wrong. */
object SelfTest {

  private def expect(what: String, ok: Boolean): Seq[String] =
    if (ok) Nil else Seq(s"self-test: $what")

  private def rejects(what: String, findings: Seq[String]): Seq[String] =
    expect(s"$what is not rejected", findings.nonEmpty)

  private def accepts(what: String, findings: Seq[String]): Seq[String] =
    expect(s"$what is rejected: ${findings.mkString("; ")}", findings.isEmpty)

  /** Hand-worked cases of the references. */
  def references(): Seq[String] = {
    // 2048 extent, 1024 tiles, 256 overlap: n = 1 + ceil(1024 / 768) = 3,
    // linspace(0, 1024, 3) = {0, 512, 1024}
    val grid = expect("grid origins at 2048/1024/256 are not {0, 512, 1024}",
      origins(2048, 1024, 256).toSeq == Seq(0L, 512L, 1024L))
    // page 41: host 41 % 1000, 41 % 20 = 1 -> en, 1 + 41 % 7 = 7 repeats,
    // md5("https://host-0041.example/page-00000041") = d9cce6d2...
    val h = "d9cce6d23a0a4c02a90689ee2f662f1d"
    val page41 = "url=https://host-0041.example/page-00000041 lang=en body=" +
      "d9cce6d2 " * 7 + h
    val text41 = expect("text template of page 41", text(41) == page41)
    // page 41 is in the hot spot: (640 + 41 % 13, 832 + 41 % 11) = (642, 840)
    val xy41 = expect("geocode of page 41", pageXY(41) == ((642.0, 840.0)))
    // three boxes: b overlaps a with IoU 90/110 > 0.7 and scores lower, so
    // it is suppressed; c is disjoint and kept
    val a = Box(1, 0.9, 0, 0, 10, 10)
    val b = Box(2, 0.8, 1, 0, 11, 10)
    val c = Box(3, 0.7, 20, 20, 30, 30)
    val nms3 = expect("naive NMS three-box case", naiveNms(Seq(c, b, a), 0.7) == Set(1L, 3L))
    // equal scores: the lower id wins
    val tie = expect("naive NMS tie goes to the lower id",
      naiveNms(Seq(b.copy(score = 0.9), a), 0.7) == Set(1L))
    val med = expect("median of {1, 3, 2, 4} is 2.5 and of {5, 1, 3} is 3",
      npMedian(Array(1.0, 3.0, 2.0, 4.0)) == 2.5 && npMedian(Array(5.0, 1.0, 3.0)) == 3.0)
    val area = expect("shoelace area of the 2x3 rectangle is 6",
      shoelace(Array(0.0, 0.0, 2.0, 0.0, 2.0, 3.0, 0.0, 3.0)) == 6.0)
    grid ++ text41 ++ xy41 ++ nms3 ++ tie ++ med ++ area
  }

  /** One corruption of a few of `all`'s crowns per property
    * `Checks.merged` holds. */
  def mergedCorruptions(all: Seq[Merged], confThr: Double): Seq[String] = {
    // a few real crowns, including a single- and a multi-member one
    val ok = (all.take(8) ++ all.find(_.ids.length == 1) ++ all.find(_.scores.length > 1)).distinct
    val single = ok.indexWhere(m => m.ids.length == 1 && m.parts.length == 1)
    val multi = ok.indexWhere(_.scores.length > 1)
    def at(k: Int, f: Merged => Merged) = ok.updated(k, f(ok(k)))
    accepts("uncorrupted merged crowns", merged(ok, confThr)) ++
      (if (ok.size > 1) rejects("a member id shared by two crowns",
        merged(at(1, m => m.copy(ids = m.ids :+ ok(0).ids(0))), confThr)) else Nil) ++
      rejects("a score off its median", merged(at(0, m => m.copy(score = m.score + 1e-6)), confThr)) ++
      rejects("a score at the threshold",
        merged(at(0, m => m.copy(score = confThr, scores = Array(confThr))), confThr)) ++
      (if (multi >= 0) rejects("a multi-member score set to its max",
        merged(at(multi, m => m.copy(score = m.scores.max)), confThr)) else Nil) ++
      (if (single >= 0) rejects("a single-member area off its polygon",
        merged(at(single, m => m.copy(area = m.area * 1.001 + 1e-3)), confThr)) ++
        rejects("a single-member bbox off its polygon",
          merged(at(single, m => m.copy(maxX = m.maxX + 0.5)), confThr))
      else Seq("self-test: no single-member crown to corrupt"))
  }

  /** Hand-made merged crowns, so the merged-crown corruptions run in
    * every workload, `assign` included. */
  def handMerged: Seq[Merged] = {
    val sq = Array(0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0)
    Seq(Merged(0, 1, Array(7L), 0.8, Array(0.8), 0, 0, 4, 4, 16.0, Array(sq)),
      Merged(0, 1, Array(9L, 11L), 0.6, Array(0.5, 0.7), 10, 10, 20, 20, 60.0,
        Array(sq.map(_ + 10), sq.map(_ + 16))))
  }

  /** Corruptions of the table comparison, on tiny frames; run where
    * the comparison is used. */
  def frameCorruptions(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    val base = Seq((0L, 1, Array(1.0, 2.0)), (1L, 0, Array(3.0))).toDF("region", "classIdx", "poly")
    val dup = base.union(base.limit(1))
    val changed = Seq((0L, 1, Array(1.0, 2.5)), (1L, 0, Array(3.0))).toDF("region", "classIdx", "poly")
    accepts("identical frames", sameRows("t", base, base)) ++
      rejects("a duplicated row", sameRows("t", dup, base)) ++
      rejects("a changed array element", sameRows("t", changed, base)) ++
      rejects("a dropped row", sameRows("t", base.limit(1), base))
  }

  /** Corruptions of the other checks, on hand-made outputs. */
  def corruptions(): Seq[String] = {
    val lineage = Seq((0L, 1L), (1L, 1L), (2L, 2L))
    val stat: Map[(Long, Int), Stat] = statsOf(Seq((0L, 1, 10.0, 0.5, 2), (0L, 1, 6.0, 0.9, 1)))
    accepts("lineage with each region once", lineageOnce("s", lineage, Set(0L, 1L, 2L))) ++
      rejects("a region in two snapshots",
        lineageOnce("s", lineage :+ ((1L, 2L)), Set(0L, 1L, 2L))) ++
      rejects("a region missing from lineage", lineageOnce("s", lineage, Set(0L, 1L, 2L, 3L))) ++
      expect("stats of the hand case", stat == Map((0L, 1) -> ((2L, 16.0, 0.7, 0.9, 3L)))) ++
      rejects("a stats row with one crown too many",
        stats(stat.map { case (k, s) => k -> s.copy(_1 = s._1 + 1) }, stat)) ++
      rejects("a stats row with a changed area total",
        stats(stat.map { case (k, s) => k -> s.copy(_2 = s._2 + 0.01) }, stat)) ++
      rejects("counts off by one", sameCounts(Map((0L, 0L) -> 3L), Map((0L, 0L) -> 2L))) ++
      rejects("a corrupted text", textRows(Seq((41L, url(41), text(41).replace("lang=en", "lang=de"))))) ++
      accepts("page 41's text", textRows(Seq((41L, url(41), text(41))))) ++
      rejects("a suppressed member id", survivors(Seq(1L, 2L), Set(1L, 3L))) ++
      mergedCorruptions(handMerged, 0.3)
  }
}
