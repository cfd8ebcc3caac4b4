package argobench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{Argostats, GraftSession}

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tmp = Files.createTempDirectory("argobench-spec")
  private lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[2]", 2)
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .getOrCreate()
    GraftSession.tune(s)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    val walk = Files.walk(tmp)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally walk.close()
  }

  private val spec = Gdac.Spec(files = 4, profiles = (20, 30), levels = (30, 60),
    region = (-1.0, 5.0, -1.0, 5.0))

  private def tree(root: Path): Map[String, Seq[Byte]] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  test("the generator is deterministic per seed and differs across seeds") {
    val a = Gdac.write(tmp.resolve("a"), spec, 7L)
    val b = Gdac.write(tmp.resolve("b"), spec, 7L)
    val c = Gdac.write(tmp.resolve("c"), spec, 8L)
    assert(a == b)
    assert(tree(tmp.resolve("a")) == tree(tmp.resolve("b")))
    assert(tree(tmp.resolve("a")).keySet == tree(tmp.resolve("c")).keySet)
    assert(tree(tmp.resolve("a")) != tree(tmp.resolve("c")))
    assert(a.profiles == c.profiles, "the profile total does not depend on the seed")
  }

  test("the gate passes the pipeline's outputs and fails a perturbed cell or a dropped profile") {
    val seed = 3L
    val dir = tmp.resolve("pipeline")
    val gdac = dir.resolve("gdac").toString
    val truth = Gdac.write(dir.resolve("gdac"), spec, seed)
    assert(truth.rejected > 0 && truth.flagged < truth.profiles, s"plants present: $truth")
    val summaryDir = dir.resolve("summary").toString
    val storeDir = dir.resolve("store").toString
    val nc = dir.resolve("ts.nc").toString
    Argostats.saveSummary(Argostats.buildSummary(spark, gdac), summaryDir)
    Argostats.saveProfiles(Argostats.interpolateAll(spark, gdac,
      Argostats.loadSummary(spark, summaryDir)), storeDir)
    val store = Argostats.loadProfiles(spark, storeDir)
    val atlas = Argostats.atlas((0.0, 4.0, 0.0, 4.0), 0.5)
    val ts = atlas.climTS(spark, store).persist()
    Argostats.toNetcdf(nc, atlas, ts, store)
    val ok = Outputs(Some(Argostats.loadSummary(spark, summaryDir)), store, ts, nc, None, None)
    assert(Gate.check(spark, seed, truth, atlas, ok).isEmpty)

    val (gi, gj) = Gate.sampleCells(seed, atlas).head
    val (lon, lat) = ((atlas.box._1 + gi * atlas.reso).toFloat, (atlas.box._3 + gj * atlas.reso).toFloat)
    val perturbed = ts.withColumn("CT",
      when(col("lon") === lon && col("lat") === lat && col("pres") === 1000f, col("CT") + 0.01f)
        .otherwise(col("CT")))
    val cellErrs = Gate.check(spark, seed, truth, atlas, ok.copy(ts = perturbed))
    assert(cellErrs.exists(_.contains(s"cell ($gi,$gj)")), cellErrs)

    val first = store.select("WMO", "IPROF").head()
    val dropped = store.filter(!(col("WMO") === first.getInt(0) && col("IPROF") === first.getShort(1)))
    val dropErrs = Gate.check(spark, seed, truth, atlas, ok.copy(store = dropped))
    assert(dropErrs.exists(_.startsWith("store rows")), dropErrs)
  }

  test("the metrics printed are the ones BENCHMARK.json declares") {
    val spec = new ObjectMapper().readTree(Paths.get("..", "BENCHMARK.json").toFile)
    def declared(key: String) =
      spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(declared("end_to_end") == Metrics.endToEnd)
    assert(declared("per_layer") == Metrics.perLayer)
    val names = Workload.all.map(_.name).toSet
    spec.get("workloads").elements().asScala.foreach(w => assert(names(w.get("name").asText)))
  }
}
