package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import graft.Bench

/** Crown-pipeline benchmark: one JVM, one `local[nproc]` session, one
  * closed-loop client running whole passes of a named workload.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Untimed warm-up passes, then timed passes for `--seconds`, then the
  * output checks. Prints a host record line and, as the last line, the
  * result object. `--trace 0` reports the end-to-end metrics, `--trace
  * 1` the per-layer ones (cumulative-prefix profile, listener stage
  * figures and kernel timings, all taken from outside the program).
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pages_per_s" -> "pages/s", "peak_live_heap_mb" -> "MB",
    "shuffle_mb" -> "MB")

  /** Reported by the crownjob workload only. */
  val CrownJobEndToEnd: Seq[(String, String)] = Seq("table_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "pages.self_s" -> "s", "assign.self_s" -> "s", "assign.rows_out" -> "rows",
    "assign.agg_self_s" -> "s", "synth.self_s" -> "s", "synth.crowns_out" -> "crowns",
    "merge.shipped_ratio" -> "ratio", "merge.exchange_mb" -> "MB", "merge.self_s" -> "s",
    "merge.crowns_out" -> "crowns", "ringtrace.self_s" -> "s", "merge.task_p50_ms" -> "ms",
    "merge.task_max_ms" -> "ms", "merge.task_skew" -> "ratio", "merge.largest_group" -> "crowns",
    "slots_busy" -> "ratio", "raster.conf_self_s" -> "s", "raster.mosaic_self_s" -> "s",
    "raster.exchange_mb" -> "MB", "cover.self_s" -> "s", "crownjob.synth_s" -> "s",
    "crownjob.merge_s" -> "s", "crownjob.stats_s" -> "s", "crownjob.merge_exchanges" -> "count",
    "iceberg.commit_s" -> "s", "iceberg.resume_s" -> "s", "iceberg.data_mb" -> "MB",
    "iceberg.lineage_mb" -> "MB", "iceberg.files" -> "count", "iceberg.snapshots" -> "count",
    "gc_s" -> "s", "spill_mb" -> "MB") ++
    Seq("nmsLocal", "mergeLocal", "dissolveLocal", "splitLocal", "rasterizeMaxInto",
      "vectorizeWithHoles").flatMap(k => Seq(s"kernel.${k}_ms" -> "ms", s"kernel.${k}_n" -> "items"))

  /** Timed passes below this count extend the run past `--seconds`. */
  val MinTimedPasses = 3

  private def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def jnum(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val name = opt("workload")
    require(Workloads.names.contains(name), s"unknown workload '$name'")
    val seed = opt("seed").toLong
    val runSeconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath

    val load0 = Bench.loadavg
    val jiffies0 = Bench.cpuJiffies
    val cores = Runtime.getRuntime.availableProcessors
    Workloads.deleteTree(work)
    Files.createDirectories(work)
    val spark = Bench.localSession(cores, cores * 4)
    val probe = new Probe(spark)
    spark.sparkContext.addSparkListener(probe)
    val wl = Workloads(name, Ctx(spark, seed, work, probe, cores))
    // process start to a ready session with the workload's inputs defined
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    // every pass starts from a collected heap (as in Bench.main), so no
    // pass inherits another's allocation debt and the post-collection
    // heap readings of a pass do not depend on when the last old-space
    // cycle ran
    def fresh[A](pass: => A): A = {
      System.gc()
      pass
    }
    val (_, warmS) = Bench.time((1 to wl.warmPasses).foreach(k => fresh(wl.pass(s"w$k"))))

    val t0 = System.nanoTime()
    val timed = ArrayBuffer.empty[(String, Try[Pass])]
    var gcMs = 0L
    while (timed.size < MinTimedPasses || (System.nanoTime() - t0) / 1e9 < runSeconds) {
      val g = s"t${timed.size + 1}"
      timed += g -> fresh {
        val gc0 = probe.gcMillis
        probe.arm(true)
        try Try(wl.pass(g)) finally {
          probe.arm(false)
          gcMs += probe.gcMillis - gc0
        }
      }
    }
    val gcS = gcMs / 1e3

    val ((findings, reference), verifyS) = Bench.time(Try(wl.verify()) match {
      case Success(r) => r
      case Failure(e) => (Seq(s"verify failed: $e"), "")
    })
    val (selfTests, selfTestS) =
      Bench.time(SelfTest.references() ++ SelfTest.corruptions())
    val ok = timed.collect { case (g, Success(p)) if p.fingerprint == reference => g -> p }
    val failed = timed.size - ok.size
    timed.foreach {
      case (g, Failure(e)) => System.err.println(s"pass $g failed: $e")
      case (g, Success(p)) if p.fingerprint != reference =>
        System.err.println(s"pass $g: output differs from the verified output")
      case _ =>
    }
    (findings ++ selfTests).foreach(f => System.err.println(s"CHECK: $f"))

    val walls = ok.map(_._2.wallS).toSeq
    val groups = ok.map(_._1).toSeq
    val timedTasks = probe.tasksWhere(g => groups.exists(p => g.startsWith(p + ":")))
    val passes = math.max(1, ok.size)
    val pagesPerS = if (walls.isEmpty) 0.0 else wl.pages / Workloads.medianOf(walls)

    val (traceFindings, metrics, reportS) = {
      var tf: Seq[String] = Nil
      val (m, s) = Bench.time[Map[String, Double]](
      if (!traced) Map(
        "setup_s" -> setupS,
        "pages_per_s" -> pagesPerS,
        "peak_live_heap_mb" -> probe.peakLiveBytes / Workloads.MB,
        "shuffle_mb" -> timedTasks.map(_.shuffleWrite).sum / Workloads.MB / passes) ++
        wl.extraEndToEnd()
      else {
        val common = Map(
          "slots_busy" -> timedTasks.map(_.runMs).sum / (walls.sum * 1e3 * cores),
          "gc_s" -> gcS / passes,
          "spill_mb" -> timedTasks.map(_.spill).sum / Workloads.MB / passes)
        val (layers, findings) = wl.trace(groups, ok.map(_._2).toSeq)
        tf = findings
        PerLayer.map(_._1 -> 0.0).toMap ++ common ++ layers
      })
      (tf, m, s)
    }
    traceFindings.foreach(f => System.err.println(s"CHECK: $f"))
    val units = if (traced) PerLayer
      else EndToEnd ++ (if (name == "crownjob") CrownJobEndToEnd else Nil)

    val maxHeapMb = Runtime.getRuntime.maxMemory / Workloads.MB
    println("{\"host\": {" + Seq(
      "workload" -> jstr(name), "seed" -> seed.toString, "trace" -> traced.toString,
      "cores" -> cores.toString, "max_heap_mb" -> f"$maxHeapMb%.0f",
      "jvm" -> jstr(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "warehouse" -> jstr(work.toString),
      "shuffle_dirs" -> jstr(sys.env.getOrElse("SPARK_LOCAL_DIRS",
        spark.sparkContext.getConf.get("spark.local.dir", System.getProperty("java.io.tmpdir")))),
      "loadavg_start" -> jstr(load0), "loadavg_end" -> jstr(Bench.loadavg),
      "steal_pct" -> jstr(Bench.stealPctSince(jiffies0)),
      "warmup_s" -> jnum(warmS), "verify_s" -> jnum(verifyS), "selftest_s" -> jnum(selfTestS),
      "report_s" -> jnum(reportS), "timed_passes" -> timed.size.toString,
      "pass_s" -> walls.map(w => f"$w%.4f").mkString("[", ",", "]"),
      "pages_per_s" -> jnum(pagesPerS)
    ).map { case (k, v) => jstr(k) + ": " + v }.mkString(", ") + "}}")

    val correct = findings.isEmpty && selfTests.isEmpty && traceFindings.isEmpty
    println("{\"correct\": " + correct + ", \"attempted\": " + timed.size + ", \"failed\": " +
      failed + ", \"metrics\": {" + units.map { case (k, u) =>
        jstr(k) + ": {\"value\": " + jnum(metrics(k)) + ", \"unit\": " + jstr(u) + "}"
      }.mkString(", ") + "}}")
    spark.stop()
  }
}
