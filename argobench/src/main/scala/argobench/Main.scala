package argobench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Argostats, GraftSession}
import graft.argo.Atlas
import graft.sources.ArgoNetCDF

/** The metric names and units the benchmark prints. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_s" -> "s", "e2e_s" -> "s",
    "profiles_per_s_core" -> "profiles/s/core", "heap_peak_mb" -> "MB",
    "store_bytes_per_profile" -> "B", "pass_ratio" -> "ratio")

  val layers: Seq[String] = Seq("sources.scan", "argo.summary", "argo.interp",
    "argo.store_read", "argo.atlas_pairs", "argo.atlas_ts", "argo.atlas_eape",
    "argo.sink")

  val perSpan: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "task_s" -> "s", "cpu_s" -> "s", "core_util" -> "ratio",
    "serial_s" -> "s", "gc_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
    "input_mb" -> "MB", "result_mb" -> "MB", "tasks" -> "count", "jobs" -> "count")

  val counts: Seq[(String, String)] = Seq(
    "sources.files" -> "count", "sources.profiles" -> "count",
    "argo.interp.accept_ratio" -> "ratio", "argo.atlas.cells" -> "count",
    "argo.atlas.pairs" -> "count", "argo.atlas.pairs_per_profile" -> "ratio",
    "argo.sink.bytes" -> "B", "trace.overhead_ratio" -> "ratio")

  val perLayer: Seq[(String, String)] =
    (for (l <- layers; (m, u) <- perSpan) yield s"$l.$m" -> u) ++ counts
}

/** One pipeline pass: its spans, its exact counts, its gate verdict and
  * the heap in use after a full GC at its end, with its frames cached. */
final case class Pass(tracer: Tracer, e2eS: Double, failures: Seq[String],
                      counts: Map[String, Double], heapMb: Double)

/** What a run reports: (name, value, unit) per metric, and its passes. */
final case class Result(metrics: Seq[(String, Double, String)], attempted: Int, failed: Int)

/** Runs one workload from a seed and writes its result as one JSON object.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <result file>`. The work directory holds the
  * generated GDAC and the pipeline's outputs; spans of a traced run are
  * written next to the result file.
  *
  * In one JVM and one `local[nproc]` session: one cold pass, the
  * workload's warm-up passes, then timed passes for `seconds`, one at a
  * time. Every pass goes through the correctness gate. A traced run alternates
  * untraced and traced timed passes, so its tracing overhead is measured
  * on the same JVM. */
object Main {
  val MinTimedPasses = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = Workload.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val load0 = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    // set-up: this fresh JVM's start until the session is ready
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    GraftSession.tune(spark)
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val r = new Run(spark, w, seed, seconds, traced, work, cores)
      val res = r.execute(setupS)
      val context = r.context ++ Seq(
        "load_avg_start" -> Json.num(load0),
        "load_avg_end" -> Json.num(ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage),
        "xmx_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
        "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version")),
        "spark" -> Json.str(spark.version))
      if (traced) {
        val spans = out.resolveSibling(out.getFileName.toString.replace(".json", "") + ".spans.jsonl")
        Files.write(spans, r.spanLines.asJava, StandardCharsets.UTF_8)
      }
      val metrics = res.metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }
      val json = Json.obj(Seq("correct" -> (res.failed == 0).toString,
        "attempted" -> res.attempted.toString, "failed" -> res.failed.toString,
        "metrics" -> Json.obj(metrics), "context" -> Json.obj(context)))
      Files.write(out, (json + "\n").getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}

/** One run of one workload. */
final class Run(spark: SparkSession, w: Workload, seed: Long, seconds: Double,
                traced: Boolean, work: Path, cores: Int) {
  private val gdac = work.resolve("gdac").toString
  private val summaryDir = work.resolve("summary").toString
  private val storeDir = work.resolve("store").toString
  private val tsNc = work.resolve("atlas_ts.nc").toString
  private val eapeNc = work.resolve("atlas_eape.nc").toString
  private val atlas: Atlas = Argostats.atlas(w.box, w.reso, maskLand = w.maskLand)
  private var truth: Gdac.Truth = _
  private val ctx = ArrayBuffer[(String, String)]()
  private val passes = ArrayBuffer[Pass]()

  def context: Seq[(String, String)] = ctx.toSeq
  def spanLines: Seq[String] = passes.toSeq.filter(_.tracer.traced).flatMap(_.tracer.jsonLines())

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Run the workload: generate, prepare, then the passes. */
  def execute(setupS: Double): Result = {
    val (t, genS) = timed(Gdac.write(Paths.get(gdac), w.spec, seed))
    truth = t
    ctx ++= Seq("workload" -> Json.str(w.name), "seed" -> seed.toString,
      "cores" -> cores.toString, "gdac_files" -> t.files.toString,
      "gdac_profiles" -> t.profiles.toString, "gdac_mb" -> Json.num(t.bytes / 1e6),
      "generate_s" -> Json.num(genS))
    if (!w.ingest) {
      // the store the timed passes start from, built by the program
      val (_, prepS) = timed(ingest(new Tracer(spark, "prep", traced = false)))
      ctx += "prep_s" -> Json.num(prepS)
    }
    val cold = pass(traced = false)
    (1 to w.warmups).foreach(_ => pass(traced = false))
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val timedPasses = ArrayBuffer[Pass]()
    while (timedPasses.size < Main.MinTimedPasses || System.nanoTime() < deadline)
      timedPasses += pass(traced = traced && timedPasses.size % 2 == 1)
    val heapMb = timedPasses.map(_.heapMb).filterNot(_.isNaN).maxOption.getOrElse(Double.NaN)
    val storeBytes = dirBytes(storeDir)

    val failed = passes.count(_.failures.nonEmpty)
    passes.flatMap(_.failures).distinct.take(20).foreach(f => System.err.println(s"gate: $f"))
    val untracedE2e = timedPasses.filterNot(_.tracer.traced).map(_.e2eS).toSeq
    val e2e = Stats.median(untracedE2e)
    ctx ++= Seq("cold_s" -> Json.num(cold.e2eS), "e2e_samples" -> untracedE2e.size.toString,
      "e2e_all_s" -> untracedE2e.map(Json.num).mkString("[", ", ", "]"),
      "e2e_p_high" -> Stats.highPercentile(untracedE2e).map { case (q, v) =>
        Json.obj(Seq("percentile" -> q.toString, "value_s" -> Json.num(v)))
      }.getOrElse("null"),
      "passes" -> passes.size.toString, "failed_passes" -> failed.toString)

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val profiles = if (w.ingest) truth.profiles else truth.flagged
        Seq(("setup_s", setupS, "s"), ("cold_s", cold.e2eS, "s"), ("e2e_s", e2e, "s"),
          ("profiles_per_s_core", profiles / e2e / cores, "profiles/s/core"),
          ("heap_peak_mb", heapMb, "MB"),
          ("store_bytes_per_profile", storeBytes.toDouble / truth.flagged, "B"),
          ("pass_ratio", (passes.size - failed).toDouble / passes.size, "ratio"))
      } else layerMetrics(timedPasses.filter(_.tracer.traced).toSeq, e2e)

    Result(metrics, passes.size, failed)
  }

  /** Per-layer medians over the traced passes, plus the exact counts. */
  private def layerMetrics(tracedPasses: Seq[Pass], untracedE2e: Double): Seq[(String, Double, String)] = {
    def med(f: Pass => Double) = Stats.median(tracedPasses.map(f))
    val perSpan = for (layer <- Metrics.layers; (m, u) <- Metrics.perSpan) yield {
      val v = med { p =>
        p.tracer.spans.find(_.name == layer).map { s =>
          val c = p.tracer.counters(s.id)
          val wall = s.wallS
          val task = c.runMs / 1e3
          m match {
            case "wall_s" => wall
            case "task_s" => task
            case "cpu_s" => c.cpuNs / 1e9
            case "core_util" => if (wall > 0) task / (wall * cores) else 0.0
            case "serial_s" => wall - task / cores
            case "gc_s" => c.gcMs / 1e3
            case "shuffle_mb" => c.shuffleBytes / 1e6
            case "spill_mb" => c.spillBytes / 1e6
            case "input_mb" => c.inputBytes / 1e6
            case "result_mb" => c.resultBytes / 1e6
            case "tasks" => c.tasks.toDouble
            case "jobs" => c.jobs.toDouble
          }
        }.getOrElse(0.0)
      }
      (s"$layer.$m", v, u)
    }
    val counts = Metrics.counts.map { case (n, u) =>
      val v = n match {
        case "trace.overhead_ratio" => med(_.e2eS) / untracedE2e
        case other => med(_.counts.getOrElse(other, 0.0))
      }
      (n, v, u)
    }
    perSpan ++ counts
  }

  /** Scan, summary and interpolation into the store. */
  private def ingest(tr: Tracer): Unit = {
    tr.span("argo.summary") {
      Argostats.saveSummary(Argostats.buildSummary(spark, gdac), summaryDir)
    }
    tr.span("argo.interp") {
      Argostats.saveProfiles(Argostats.interpolateAll(spark, gdac,
        Argostats.loadSummary(spark, summaryDir)), storeDir)
    }
  }

  /** One pass of the pipeline, gated. */
  private def pass(traced: Boolean): Pass = {
    val tr = new Tracer(spark, s"${w.name}-$seed-${passes.size}", traced)
    val counts = scala.collection.mutable.Map[String, Double]()
    val cached = ArrayBuffer[DataFrame]()
    var heapMb = Double.NaN
    def keep(df: DataFrame): DataFrame = { cached += df; df.persist() }
    val failures = try {
      var tsDf, eapeDf: DataFrame = null
      var store: DataFrame = null
      tr.span("pass") {
        if (w.ingest) {
          tr.span("sources.scan") {
            ArgoNetCDF.read(spark, gdac).write.format("noop").mode("overwrite").save()
          }
          ingest(tr)
        }
        store = tr.span("argo.store_read") {
          val s = keep(Argostats.loadProfiles(spark, storeDir))
          s.count()
          s
        }
        if (traced) tr.span("argo.atlas_pairs") {
          counts("argo.atlas.cells") = atlas.grid(spark).count().toDouble
          val cropped = atlas.crop(store).count().toDouble
          val pairs = atlas.pairs(spark, store).count().toDouble
          counts("argo.atlas.pairs") = pairs
          counts("argo.atlas.pairs_per_profile") = pairs / cropped
        }
        tsDf = tr.span("argo.atlas_ts") {
          val d = keep(atlas.climTS(spark, store))
          d.count()
          d
        }
        w.eape.foreach { algo =>
          eapeDf = tr.span("argo.atlas_eape") {
            val d = keep(atlas.climEAPE(spark, store, algo))
            d.count()
            d
          }
        }
        tr.span("argo.sink") {
          Argostats.toNetcdf(tsNc, atlas, tsDf, store)
          Option(eapeDf).foreach(Argostats.toNetcdf(eapeNc, atlas, _, store))
        }
      }
      // what the pass holds at its end, before its caches are released
      System.gc()
      heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      val outputs = Outputs(
        summary = if (w.ingest) Some(Argostats.loadSummary(spark, summaryDir)) else None,
        store = store, ts = tsDf, tsNc = tsNc,
        eape = Option(eapeDf), eapeNc = Option(eapeDf).map(_ => eapeNc))
      if (traced) {
        counts("sources.files") = truth.files
        counts("sources.profiles") = truth.profiles
        val flagged = store.count().toDouble
        counts("argo.interp.accept_ratio") = store.filter(col("NVALUES") > 0).count() / flagged
        counts("argo.sink.bytes") =
          (tsNc +: Option(eapeDf).map(_ => eapeNc).toSeq).map(p => Files.size(Paths.get(p))).sum.toDouble
      }
      Gate.check(spark, seed, truth, atlas, outputs)
    } catch {
      case NonFatal(e) => Seq(s"pass threw: $e")
    } finally {
      tr.close()
      cached.foreach(_.unpersist(blocking = true))
    }
    // a traced pass also counts the atlas pairs; that span is not part of
    // the pipeline, so it stays out of the pass time
    val e2e = tr.spans.find(_.name == "pass").map(_.wallS).getOrElse(Double.NaN) -
      tr.spans.filter(_.name == "argo.atlas_pairs").map(_.wallS).sum
    val p = Pass(tr, e2e, failures, counts.toMap, heapMb)
    passes += p
    p
  }

  private def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
    finally s.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest whole percentile with at least ten samples above it, and
    * its value; None with ten samples or fewer. */
  def highPercentile(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size <= 10) None
    else {
      val s = xs.sorted
      val q = 100 * (s.size - 10) / s.size
      Some(q -> s(math.max(0, math.ceil(q / 100.0 * s.size).toInt - 1)))
    }
}
