package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Bench
import graft.api.GraftPipeline
import graft.geom.{Geom, Raster}
import graft.grid.TileGridSpec
import graft.jobs.CrownJob
import graft.operators.{CrownOps, GeoOps, RasterOps}
import graft.operators.CrownOps.Crown
import graft.tables.{IcebergLite, PagesGen}

final case class Ctx(spark: SparkSession, seed: Long, work: Path, probe: Probe, cores: Int)

/** One timed pass: its wall time, a fingerprint of its output that
  * must equal the verified one, and any per-layer times it took. */
final case class Pass(wallS: Double, fingerprint: String, layers: Map[String, Double] = Map.empty)

/** A workload: one closed-loop client running whole passes. */
trait Workload {
  /** Input pages per pass (the numerator of pages_per_s). */
  def pages: Long
  def warmPasses: Int
  /** One pass, its Spark jobs tagged with job groups under `group`. */
  def pass(group: String): Pass
  /** Checks the program's output independently; returns the findings
    * and the fingerprint every timed pass must reproduce. */
  def verify(): (Seq[String], String)
  /** End-to-end metrics only this workload has, taken after verify. */
  def extraEndToEnd(): Map[String, Double] = Map.empty
  /** Per-layer figures of the traced run and the findings of any checks
    * it made; `timed` are the job-group prefixes of the timed passes,
    * `passes` their results. */
  def trace(timed: Seq[String], passes: Seq[Pass]): (Map[String, Double], Seq[String])
}

object Workloads {
  val names: Seq[String] = Seq("assign", "predict", "crownjob", "one_image")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "assign" => new Assign(ctx)
    case "predict" => new Predict(ctx)
    case "crownjob" => new CrownJobWorkload(ctx)
    case "one_image" => new OneImage(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  val NmsIou = 0.7
  val ConfThr = 0.3
  val MergeIou = 0.5
  val MB = 1e6

  def medianOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Checks.npMedian(xs.toArray)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Cumulative-prefix profile: each prefix, projected to the columns
    * the next stage reads, is written to the noop sink once per round,
    * in `rounds` interleaved rounds; returns the median seconds per
    * prefix. A stage's self time is its prefix minus the one before. */
  def prefixes(probe: Probe, rounds: Int, ps: Seq[(String, () => DataFrame)]): Map[String, Double] = {
    val runs = (1 to rounds).flatMap(_ => ps.map { case (name, df) =>
      name -> probe.phase(s"trace:$name")(Bench.time(noop(df()))._2)
    })
    runs.groupBy(_._1).map { case (k, v) => k -> medianOf(v.map(_._2)) }
  }

  def rowsKey(rows: Array[Row]): String = rows.map(_.toString).sorted.mkString(";")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally paths.close()
    }

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  def dirBytes(p: Path): Long = files(p).map(Files.size).sum

  def parquetFiles(p: Path): Int = files(p).count(_.getFileName.toString.endsWith(".parquet"))

  /** Task figures of the (region, class) merge's reduce stages: the
    * `groupByKey` stages in the job groups `groups`, one entry per group. */
  final case class MergeTasks(p50Ms: Double, maxMs: Double, readBytes: Long,
                              firstStageRecords: Long)

  def mergeTasks(probe: Probe, groups: Seq[String]): Seq[MergeTasks] =
    groups.map { g =>
      val ts = probe.tasksWhere(_ == g).filter(_.mapGroups)
      val ms = ts.map(_.runMs.toDouble)
      val first = if (ts.isEmpty) Nil else {
        val s0 = ts.map(_.stage).min
        ts.filter(_.stage == s0)
      }
      MergeTasks(medianOf(ms), if (ms.isEmpty) 0.0 else ms.max, ts.map(_.shuffleRead).sum,
        first.map(_.recordsRead).sum)
    }

  /** Per-layer figures of the merge's reduce stages over the timed passes. */
  def mergeLayers(mts: Seq[MergeTasks], crownsIn: Long): Map[String, Double] = {
    val p50 = medianOf(mts.map(_.p50Ms))
    val max = medianOf(mts.map(_.maxMs))
    Map(
      "merge.task_p50_ms" -> p50,
      "merge.task_max_ms" -> max,
      "merge.task_skew" -> max / math.max(p50, 1.0),
      "merge.exchange_mb" -> medianOf(mts.map(_.readBytes.toDouble)) / MB,
      "merge.shipped_ratio" -> medianOf(mts.map(_.firstStageRecords.toDouble)) / math.max(1L, crownsIn))
  }

  /** Crowns of the largest (region, class) group entering the merge. */
  def largestGroup(spark: SparkSession, crowns: Dataset[Crown]): (Long, IndexedSeq[Crown]) = {
    import spark.implicits._
    val top = crowns.groupBy(col("region"), col("classIdx")).count()
      .orderBy(col("count").desc, col("region"), col("classIdx")).head()
    val (r, c) = (top.getLong(0), top.getInt(1))
    (top.getLong(2), crowns.filter(x => x.region == r && x.classIdx == c).collect().toIndexedSeq)
  }

  /** Kernel timings on the calling thread over one collected group:
    * median milliseconds of `reps` runs and the input size of each. */
  def kernels(group: IndexedSeq[Crown], reps: Int): Map[String, Double] = {
    def ms(body: => Any): Double = medianOf((1 to reps).map(_ => Bench.time(body)._2 * 1e3))
    val cls = group.headOption.map(_.classIdx).getOrElse(0)
    val kept = CrownOps.nmsLocal(group, NmsIou)
    val insts = kept.filter(_.score > ConfThr).map(CrownOps.instOf)
    val comps = CrownOps.dissolveLocal(insts).toVector
    val largest = if (comps.isEmpty) IndexedSeq.empty else comps.maxBy(_.size)
    val bb = if (largest.isEmpty) Geom.BBox(0, 0, 1, 1) else largest.map(_.bbox).reduce(_ union _)
    val (ox, oy) = (math.floor(bb.minX), math.floor(bb.minY))
    val cols = math.max(1, math.ceil(bb.maxX - ox).toInt)
    val rows = math.max(1, math.ceil(bb.maxY - oy).toInt)
    val mask = new Array[Byte](rows * cols)
    largest.foreach(_.parts.foreach(p =>
      Raster.rasterizeMaxInto(Geom.translate(p, -ox, -oy), rows, cols, mask, 1)))
    def rasterizeAll(): Unit = kept.foreach { c =>
      val b = Geom.BBox.ofPolygon(c.poly)
      val (x0, y0) = (math.floor(b.minX), math.floor(b.minY))
      val w = math.max(1, math.ceil(b.maxX - x0).toInt)
      val h = math.max(1, math.ceil(b.maxY - y0).toInt)
      Raster.rasterizeMaxInto(Geom.translate(c.poly, -x0, -y0), h, w, new Array[Byte](h * w), 1)
    }
    Map(
      "kernel.nmsLocal_ms" -> ms(CrownOps.nmsLocal(group, NmsIou)),
      "kernel.nmsLocal_n" -> group.size.toDouble,
      "kernel.mergeLocal_ms" -> ms(CrownOps.mergeLocal(kept, cls, ConfThr, MergeIou)),
      "kernel.mergeLocal_n" -> kept.size.toDouble,
      "kernel.dissolveLocal_ms" -> ms(CrownOps.dissolveLocal(insts).toVector),
      "kernel.dissolveLocal_n" -> insts.size.toDouble,
      "kernel.splitLocal_ms" -> ms(CrownOps.splitLocal(largest, MergeIou)),
      "kernel.splitLocal_n" -> largest.size.toDouble,
      "kernel.rasterizeMaxInto_ms" -> ms(rasterizeAll()),
      "kernel.rasterizeMaxInto_n" -> kept.size.toDouble,
      "kernel.vectorizeWithHoles_ms" -> ms(Raster.vectorizeWithHoles(mask, rows, cols)),
      "kernel.vectorizeWithHoles_n" -> (rows.toDouble * cols))
  }

  /** Merged crowns as the checks read them. */
  def collectMerged(spark: SparkSession, merged: DataFrame): Seq[Checks.Merged] = {
    import spark.implicits._
    merged.select("region", "classIdx", "memberIds", "score", "scores", "minX", "minY",
        "maxX", "maxY", "area", "parts")
      .as[(Long, Int, Array[Long], Double, Array[Double], Double, Double, Double, Double,
        Double, Array[Array[Double]])]
      .collect().toSeq
      .map { case (r, c, ids, s, ss, x0, y0, x1, y1, a, ps) =>
        Checks.Merged(r, c, ids, s, ss, x0, y0, x1, y1, a, ps) }
  }

  /** Naive NMS on seeded sample (region, class) groups: every member id
    * of the merged crowns of a group survives it. */
  def nmsSurvivors(spark: SparkSession, crowns: Dataset[Crown], merged: Seq[Checks.Merged],
                   groups: Seq[(Long, Int)]): Seq[String] = {
    import spark.implicits._
    val regions = groups.map(_._1).distinct
    val boxes = crowns.filter(col("region").isin(regions: _*) && col("score") > ConfThr)
      .select("region", "classIdx", "crownId", "score", "minX", "minY", "maxX", "maxY")
      .as[(Long, Int, Long, Double, Double, Double, Double, Double)].collect()
    groups.flatMap { case g @ (r, c) =>
      val kept = Checks.naiveNms(boxes.collect {
        case (`r`, `c`, id, s, x0, y0, x1, y1) => Checks.Box(id, s, x0, y0, x1, y1)
      }.toSeq, NmsIou)
      val ids = merged.filter(m => m.region == r && m.classIdx == c).flatMap(_.ids)
      val found = Checks.survivors(ids, kept)
      // the same check must reject a member id naive NMS suppressed
      val suppressed = boxes.collectFirst {
        case (`r`, `c`, id, _, _, _, _, _) if !kept(id) => id
      }
      val corrupt = suppressed.toSeq.flatMap(id =>
        if (Checks.survivors(ids :+ id, kept).isEmpty)
          Seq(s"self-test: a suppressed member id in group $g is not rejected")
        else Nil)
      if (ids.isEmpty) Seq(s"group $g has no merged crowns") else found ++ corrupt
    }
  }
}

import Workloads._

/** `PagesGen` pages over a seeded window of whole 6000-page regions →
  * `GeoOps.assignTiles` → (region, tile) counts with crc32(text) summed. */
final class Assign(ctx: Ctx) extends Workload {
  import ctx._
  val pages = 3000000L
  val warmPasses = 3
  private val start = GeoOps.PagesPerRegion * Math.floorMod(seed, 100L)

  private def pagesDf = PagesGen.projectColumns(
    spark.range(start, start + pages, 1, cores * 4).toDF("i"))
  private def countsDf = GeoOps.assignTiles(pagesDf)
    .groupBy(col("region"), col("tile_id"))
    .agg(count(lit(1)).as("cnt"), sum(crc32(col("text"))).as("chk"))

  private def fingerprint(rows: Array[Row]) = Checks.md5Hex(rowsKey(rows))

  def pass(group: String): Pass = {
    val (rows, s) = Bench.time(probe.phase(s"$group:assign")(countsDf.collect()))
    Pass(s, fingerprint(rows))
  }

  def verify(): (Seq[String], String) = {
    val rows = probe.phase("verify")(countsDf.collect())
    val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = Checks.tileCounts(start, pages, 2048, 1024, 256, GeoOps.PagesPerRegion)
    val counts = Checks.sameCounts(got, want)
    val (k0, v0) = got.head
    val corrupt = if (Checks.sameCounts(got.updated(k0, v0 + 1), want).isEmpty)
      Seq("self-test: an assignment count off by one is not rejected") else Nil
    // MD5 text check on a seeded sample of the window's pages
    val rnd = new scala.util.Random(seed)
    val sample = Seq.fill(2000)(start + (rnd.nextDouble() * pages).toLong).distinct
    val texts = probe.phase("verify")(pagesDf.filter(col("i").isin(sample: _*))
      .select("i", "url", "text").collect())
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val textFindings = Checks.textRows(texts) ++
      (if (texts.size != sample.size) Seq(s"${sample.size - texts.size} sampled pages missing") else Nil)
    val textCorrupt = if (Checks.textRows(texts.take(1).map(t => (t._1, t._2, t._3 + " "))).isEmpty)
      Seq("self-test: a corrupted page text is not rejected") else Nil
    (counts ++ corrupt ++ textFindings ++ textCorrupt, fingerprint(rows))
  }

  def trace(timed: Seq[String], passes: Seq[Pass]): (Map[String, Double], Seq[String]) = {
    val t = prefixes(probe, 3, Seq(
      "range" -> (() => spark.range(start, start + pages, 1, cores * 4).toDF("i")),
      "pages" -> (() => pagesDf.select("i", "x", "y", "text")),
      "assign" -> (() => GeoOps.assignTiles(pagesDf).select("region", "tile_id", "text")),
      "agg" -> (() => countsDf)))
    Map(
      "pages.self_s" -> (t("pages") - t("range")),
      "assign.self_s" -> (t("assign") - t("pages")),
      "assign.agg_self_s" -> (t("agg") - t("assign")),
      "assign.rows_out" -> GeoOps.assignTiles(pagesDf).count().toDouble) -> Nil
  }
}

/** `GraftPipeline.predict` over a seeded window of whole regions, then
  * `instances` hashed over every column, `canopyCover` and `treeCover`. */
final class Predict(ctx: Ctx) extends Workload {
  import ctx._
  val pages = 120000L
  val warmPasses = 3
  private val start = GeoOps.PagesPerRegion * Math.floorMod(seed, 100L)
  private val spec = GeoOps.TileGrid.Default

  private def pagesDf = PagesGen.projectColumns(
    spark.range(start, start + pages, 1, cores * 4).toDF("i"))
  private def crowns = CrownOps.synthesize(spark, GeoOps.assignTiles(pagesDf, spec), spec)

  private def run(group: String): (Long, String) = {
    val res = GraftPipeline.predict(spark, pagesDf)
    val h = probe.phase(s"$group:merge")(Bench.outputHash(res.instances))
    val cover = probe.phase(s"$group:cover")(
      rowsKey(res.canopyCover.collect()) + "|" + rowsKey(res.treeCover.collect()))
    (h, cover)
  }

  def pass(group: String): Pass = {
    val ((h, cover), s) = Bench.time(run(group))
    Pass(s, Checks.md5Hex(s"$h|$cover"))
  }

  def verify(): (Seq[String], String) = {
    val res = GraftPipeline.predict(spark, pagesDf)
    val (ms, h) = probe.phase("verify")(
      (collectMerged(spark, res.instances), Bench.outputHash(res.instances)))
    val cover = probe.phase("verify")(
      rowsKey(res.canopyCover.collect()) + "|" + rowsKey(res.treeCover.collect()))
    val rnd = new scala.util.Random(seed)
    val firstRegion = start / GeoOps.PagesPerRegion
    val groups = Seq.fill(3)((firstRegion + rnd.nextInt((pages / GeoOps.PagesPerRegion).toInt),
      rnd.nextInt(2))).distinct
    val findings = Checks.merged(ms, ConfThr) ++ SelfTest.mergedCorruptions(ms, ConfThr) ++
      probe.phase("verify")(nmsSurvivors(spark, crowns, ms, groups))
    (findings, Checks.md5Hex(s"$h|$cover"))
  }

  def trace(timed: Seq[String], passes: Seq[Pass]): (Map[String, Double], Seq[String]) = {
    val rgsd = RasterOps.alignedGsd(spec, GraftPipeline.Conf().gsd)
    def merged(geom: Boolean) =
      CrownOps.nmsMerge(spark, crowns, NmsIou, ConfThr, MergeIou, emitGeom = geom).toDF()
    def conf = RasterOps.confidenceTiles(spark, crowns, spec, rgsd)
    val t = prefixes(probe, 3, Seq(
      "range" -> (() => spark.range(start, start + pages, 1, cores * 4).toDF("i")),
      "pages" -> (() => pagesDf.select("i", "x", "y")),
      "assign" -> (() => GeoOps.assignTiles(pagesDf, spec)
        .select("region", "i", "tile_id", "x", "y", "tile_min_x", "tile_min_y")),
      "synth" -> (() => crowns.toDF()),
      "merge" -> (() => merged(false)),
      "ringtrace" -> (() => merged(true)),
      "conf" -> (() => conf.toDF()),
      "mosaic" -> (() => RasterOps.mosaic(spark, conf, spec).toDF())))
    val res = GraftPipeline.predict(spark, pagesDf)
    val coverS = medianOf((1 to 2).map(_ => probe.phase("trace:cover")(Bench.time {
      res.canopyCover.collect(); res.treeCover.collect() }._2)))
    val nCrowns = crowns.count()
    val (largest, group) = largestGroup(spark, crowns.filter(_.score > ConfThr))
    Map(
      "pages.self_s" -> (t("pages") - t("range")),
      "assign.self_s" -> (t("assign") - t("pages")),
      "assign.rows_out" -> GeoOps.assignTiles(pagesDf, spec).count().toDouble,
      "synth.self_s" -> (t("synth") - t("assign")),
      "synth.crowns_out" -> nCrowns.toDouble,
      "merge.self_s" -> (t("merge") - t("synth")),
      "merge.crowns_out" -> merged(false).count().toDouble,
      "ringtrace.self_s" -> (t("ringtrace") - t("merge")),
      "merge.largest_group" -> largest.toDouble,
      "raster.conf_self_s" -> (t("conf") - t("synth")),
      "raster.mosaic_self_s" -> (t("mosaic") - t("conf")),
      "raster.exchange_mb" -> medianOf(timed.map(g =>
        probe.tasksWhere(_ == s"$g:cover").filter(_.mapGroups).map(_.shuffleRead).sum.toDouble)) / MB,
      "cover.self_s" -> (coverS - 2 * t("mosaic"))) ++
      mergeLayers(mergeTasks(probe, timed.map(g => s"$g:merge")), nCrowns) ++
      kernels(group, 3) ++ crownJobLayers -> crownJobFindings
  }

  // CrownJob commits the same synth -> merge pipeline stage by stage. Its
  // own workload is too slow per pass to run in every benchmark run, so
  // its stages, the IcebergLite layer and its checks are measured here,
  // on a two-attempt job after one warm-up job.
  private var crownJobFindings: Seq[String] = Nil
  private def crownJobLayers: Map[String, Double] = {
    val cj = new CrownJobWorkload(ctx.copy(work = work.resolve("crownjob")))
    val passes = Seq(cj.pass("trace:cj1"), cj.pass("trace:cj2"))
    val (findings, reference) = cj.verify()
    val (layers, traceFindings) = cj.trace(Seq("trace:cj2"), passes.drop(1))
    crownJobFindings = findings ++ traceFindings ++
      passes.filter(_.fingerprint != reference).map(_ => "crownjob: a job's output differs")
    layers.filter { case (k, _) => k.startsWith("crownjob.") || k.startsWith("iceberg.") }
  }
}

/** `CrownJob.run` on a fresh warehouse, stopped after a seeded number of
  * regions, then run again to resume and finish. */
final class CrownJobWorkload(ctx: Ctx) extends Workload {
  import ctx._
  val pages = 18000L
  val warmPasses = 1
  private val regions = (pages / GeoOps.PagesPerRegion).toInt
  // about half: after 1 or 2 of the 3 regions
  private val stopAfter = 1 + Math.floorMod(seed, 2L).toInt
  private var passNo = 0
  private var last: Path = work.resolve("wh-none")

  private def attempt(conf: CrownJob.Conf, group: String, a: Int): Map[String, Double] = Seq(
    "crownjob.synth_s" -> (() => probe.phase(s"$group:synth$a")(CrownJob.runSynth(spark, conf))),
    "crownjob.merge_s" -> (() => probe.phase(s"$group:merge$a")(CrownJob.runMerge(spark, conf))),
    "crownjob.stats_s" -> (() => probe.phase(s"$group:stats$a")(CrownJob.runStats(spark, conf)))
  ).map { case (k, f) => k -> Bench.time(f())._2 }.toMap

  private def read(wh: Path, stage: String): DataFrame =
    IcebergLite.read(spark, wh.toString, stage).getOrElse(
      throw new IllegalStateException(s"no committed $stage stage"))

  private def fingerprint(wh: Path): String = Checks.md5Hex(
    Seq(CrownJob.StageCrowns, CrownJob.StageMerged, CrownJob.StageStats)
      .map(s => Bench.outputHash(read(wh, s))).mkString("|"))

  def pass(group: String): Pass = {
    deleteTree(last)
    passNo += 1
    last = work.resolve(s"wh-$passNo")
    val conf = CrownJob.Conf(pages, last.toString, NmsIou, ConfThr, MergeIou, failAfterRegions = stopAfter)
    val (layers, s) = Bench.time {
      val a1 = attempt(conf, group, 1)
      val a2 = attempt(conf.copy(failAfterRegions = -1), group, 2)
      a1.map { case (k, v) => k -> (v + a2(k)) }
    }
    Pass(s, probe.phase("verify")(fingerprint(last)), layers)
  }

  private def committedCrowns = {
    import spark.implicits._
    read(last, CrownJob.StageCrowns).as[Crown]
  }

  def verify(): (Seq[String], String) = probe.phase("verify") {
    import spark.implicits._
    val all = (0L until regions).toSet
    val lineage = Seq(CrownJob.StageCrowns, CrownJob.StageMerged, CrownJob.StageStats).flatMap { st =>
      val pairs = IcebergLite.lineage(spark, last.toString, st).map(_.select("unitKey", "snapshotId")
        .as[(Long, Long)].collect().toSeq).getOrElse(Nil)
      Checks.lineageOnce(st, pairs, all) ++
        (if (pairs.nonEmpty && Checks.lineageOnce(st, pairs :+ ((pairs.head._1, -1L)), all).isEmpty)
          Seq(s"self-test: a region committed twice to $st is not rejected") else Nil)
    }
    val expectCrowns = CrownOps.synthesize(spark,
      GeoOps.assignTiles(GeoOps.withRegion(PagesGen.pages(spark, pages))), GeoOps.TileGrid.Default)
    val merged = read(last, CrownJob.StageMerged)
    val expectMerged = CrownOps.nmsMerge(spark, committedCrowns, NmsIou, ConfThr, MergeIou).toDF()
    val tables = Checks.sameRows("crowns", read(last, CrownJob.StageCrowns), expectCrowns.toDF()) ++
      Checks.sameRows("merged", merged, expectMerged) ++ SelfTest.frameCorruptions(spark)
    val recomputed = Checks.statsOf(merged.select(col("region"), col("classIdx"), col("area"),
      col("score"), size(col("memberIds"))).as[(Long, Int, Double, Double, Int)].collect().toSeq)
    val committed: Map[(Long, Int), Checks.Stat] = read(last, CrownJob.StageStats)
      .select("region", "classIdx", "n_crowns", "total_area", "mean_score", "max_score", "n_members")
      .as[(Long, Int, Long, Double, Double, Double, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    val statFindings = Checks.stats(committed, recomputed) ++
      (if (committed.nonEmpty && Checks.stats(committed.map { case (k, v) =>
          k -> v.copy(_1 = v._1 + 1) }, recomputed).isEmpty)
        Seq("self-test: a stats row with a wrong crown count is not rejected") else Nil)
    (lineage ++ tables ++ statFindings, fingerprint(last))
  }

  override def extraEndToEnd(): Map[String, Double] = Map("table_mb" -> dirBytes(last) / MB)

  def trace(timed: Seq[String], passes: Seq[Pass]): (Map[String, Double], Seq[String]) = {
    val conf = CrownJob.Conf(pages, "", NmsIou, ConfThr, MergeIou, failAfterRegions = stopAfter)
    // a warehouse holding only the first attempt's crowns, copied so each
    // probe below starts from the same state
    val synthOnly = work.resolve("trace-synth")
    deleteTree(synthOnly)
    probe.phase("trace:prep")(CrownJob.runSynth(spark, conf.copy(warehouse = synthOnly.toString)))
    var copies = 0
    def copyOf(src: Path): Path = {
      copies += 1
      val dst = work.resolve(s"trace-copy-$copies")
      deleteTree(dst)
      val s = Files.walk(src)
      try s.iterator().asScala.toList.foreach(p => Files.copy(p, dst.resolve(src.relativize(p))))
      finally s.close()
      dst
    }
    def mergeS(geom: Boolean) = medianOf((1 to 2).map { _ =>
      val wh = copyOf(synthOnly)
      probe.phase("trace:merge")(Bench.time(CrownJob.runMerge(spark,
        conf.copy(warehouse = wh.toString, emitGeom = geom)))._2)
    })
    val ringtrace = mergeS(true) - mergeS(false)
    val resume = medianOf((1 to 3).map(_ => probe.phase("trace:resume")(Bench.time {
      val done = IcebergLite.committedKeys(spark, synthOnly.toString, CrownJob.StageCrowns).get
      GeoOps.withRegion(PagesGen.pages(spark, pages))
        .join(done.withColumnRenamed("unitKey", "region"), Seq("region"), "left_anti")
        .select("region").distinct().count()
    }._2)))
    val frame = CrownOps.synthesize(spark, GeoOps.assignTiles(GeoOps.withRegion(
      PagesGen.pages(spark, pages))), GeoOps.TileGrid.Default).toDF().localCheckpoint()
    val commit = medianOf((1 to 3).map { k =>
      val wh = work.resolve(s"trace-commit-$k")
      deleteTree(wh)
      probe.phase("trace:commit")(Bench.time(
        IcebergLite.commit(spark, wh.toString, CrownJob.StageCrowns, frame, "region"))._2)
    })
    val nCrowns = committedCrowns.count()
    val merges = timed.map(g => (1 to 2).map(a => s"$g:merge$a"))
    val mts = merges.map(gs => mergeTasks(probe, gs)).map(ms => MergeTasks(
      medianOf(ms.map(_.p50Ms)), ms.map(_.maxMs).max, ms.map(_.readBytes).sum,
      ms.map(_.firstStageRecords).sum))
    val exchanges = probe.tasksWhere(_ == merges.head.head).filter(_.mapGroups).map(_.stage).distinct.size
    val (largest, group) = largestGroup(spark, committedCrowns)
    val layerTimes = Seq("crownjob.synth_s", "crownjob.merge_s", "crownjob.stats_s")
      .map(k => k -> medianOf(passes.map(_.layers.getOrElse(k, 0.0)))).toMap
    layerTimes ++ mergeLayers(mts, nCrowns) ++ Map(
      "crownjob.merge_exchanges" -> exchanges.toDouble,
      "ringtrace.self_s" -> ringtrace,
      "merge.largest_group" -> largest.toDouble,
      "iceberg.commit_s" -> commit,
      "iceberg.resume_s" -> resume,
      "iceberg.data_mb" -> dirBytes(last.resolve("data")) / MB,
      "iceberg.lineage_mb" -> dirBytes(last.resolve("lineage")) / MB,
      "iceberg.files" -> parquetFiles(last).toDouble,
      "iceberg.snapshots" -> IcebergLite.snapshots(last.toString).size.toDouble) ++
      kernels(group.filter(_.score > ConfThr), 3) -> Nil
  }
}

/** Pages at the default density (6000 per 2048²) over one large square
  * extent, coordinates hashed with the seed, all in region 0, on a tile
  * grid of that extent → `synthesize` → `nmsMerge`. */
final class OneImage(ctx: Ctx) extends Workload {
  import ctx._
  val extent = 8192L
  val pages: Long = GeoOps.PagesPerRegion * (extent / 2048) * (extent / 2048)
  val warmPasses = 5
  private val spec = TileGridSpec(extent, extent, 1024, 256)

  // PagesGen's LCG taken mod 2^k repeats with period 2^k, which would
  // stack every page on a few thousand points; hash the index instead
  private def pagesDf = PagesGen.projectColumns(spark.range(0, pages, 1, cores * 4).toDF("i"))
    .withColumn("x", pmod(xxhash64(col("i"), lit(seed)), lit(extent)).cast("double"))
    .withColumn("y", pmod(xxhash64(col("i"), lit(seed ^ 0x5DEECE66DL)), lit(extent)).cast("double"))
  private def crowns = CrownOps.synthesize(spark,
    GeoOps.assignTiles(pagesDf, spec).withColumn("region", lit(0L)), spec)
  private def merged(geom: Boolean = true) =
    CrownOps.nmsMerge(spark, crowns, NmsIou, ConfThr, MergeIou, emitGeom = geom).toDF()

  def pass(group: String): Pass = {
    val (h, s) = Bench.time(probe.phase(s"$group:merge")(Bench.outputHash(merged())))
    Pass(s, Checks.md5Hex(h.toString))
  }

  def verify(): (Seq[String], String) = probe.phase("verify") {
    val m = merged()
    val ms = collectMerged(spark, m)
    val h = Bench.outputHash(m)
    val findings = Checks.merged(ms, ConfThr) ++ SelfTest.mergedCorruptions(ms, ConfThr) ++
      nmsSurvivors(spark, crowns, ms, Seq((0L, Math.floorMod(seed, 2L).toInt)))
    (findings, Checks.md5Hex(h.toString))
  }

  def trace(timed: Seq[String], passes: Seq[Pass]): (Map[String, Double], Seq[String]) = {
    val t = prefixes(probe, 3, Seq(
      "range" -> (() => spark.range(0, pages, 1, cores * 4).toDF("i")),
      "pages" -> (() => pagesDf.select("i", "x", "y")),
      "assign" -> (() => GeoOps.assignTiles(pagesDf, spec)
        .select("region", "i", "tile_id", "x", "y", "tile_min_x", "tile_min_y")),
      "synth" -> (() => crowns.toDF()),
      "merge" -> (() => merged(false)),
      "ringtrace" -> (() => merged(true))))
    val nCrowns = crowns.count()
    val (largest, group) = largestGroup(spark, crowns.filter(_.score > ConfThr))
    Map(
      "pages.self_s" -> (t("pages") - t("range")),
      "assign.self_s" -> (t("assign") - t("pages")),
      "assign.rows_out" -> GeoOps.assignTiles(pagesDf, spec).count().toDouble,
      "synth.self_s" -> (t("synth") - t("assign")),
      "synth.crowns_out" -> nCrowns.toDouble,
      "merge.self_s" -> (t("merge") - t("synth")),
      "merge.crowns_out" -> merged(false).count().toDouble,
      "ringtrace.self_s" -> (t("ringtrace") - t("merge")),
      "merge.largest_group" -> largest.toDouble) ++
      mergeLayers(mergeTasks(probe, timed.map(g => s"$g:merge")), nCrowns) ++
      kernels(group, 2) -> Nil
  }
}
