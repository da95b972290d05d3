package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.analytics.WeatherAnalytics
import graft.app.{WeatherBench, WeatherRunner}
import graft.io.{CsvIngest, ResultStore}
import graft.ml.RidgePipeline
import graft.serving.DashboardQueries
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The paper's Lambda pipeline: weather CSV → batch analytics → serving
  * tables → dashboard, plus the ridge ET model.
  *
  * Every pass, the first included, composes the system layer by layer —
  * typed ingest and prepare, planning the six pipelines, the Hive-SQL
  * surface, the nine result tables through the result store, the model
  * trained on the May rows of the serving table and scored over a
  * scenario grid — and then serves the seeded dashboard pool `Rounds`
  * times, shuffled across `Clients` closed-loop clients in this process.
  *
  * After the last pass, untimed and with the session's cache cleared,
  * the reference: the whole batch system in one `WeatherRunner.runAll`
  * call, and the pool served from its tables by a single client. Checks:
  * each pass's nine tables equal runAll's (count and fingerprint), so the
  * layer-by-layer composition is runAll's; the model's metrics and
  * ranking repeat on every pass; every dashboard response equals the
  * single-client reference response. */
final class WeatherBatch(ctx: Ctx) extends Workload {
  private val nDays = if (ctx.smoke) 152 else 1826 // 2010-2014; the smoke run still has May
  private val Clients = 4
  private val Rounds = 2

  private var weatherCsv = ""
  private var locationsCsv = ""
  private var csvBytes = 0L

  /** Per pass: table → fingerprint, the model's, and (request, response)
    * fingerprints. */
  private val tablesOf = mutable.Map[Int, Map[String, String]]()
  private val mlOf = mutable.Map[Int, String]()
  private val responsesOf = mutable.Map[Int, Seq[(Int, String)]]()

  def inputBytes: Long = csvBytes

  def setup(spark: SparkSession, dir: String): Unit = {
    weatherCsv = s"$dir/weather_csv"; locationsCsv = s"$dir/locations_csv"
    WeatherBench.generateWeatherCsv(spark, weatherCsv, nDays = nDays)
    WeatherBench.generateLocationsCsv(spark, locationsCsv)
    csvBytes = Fs.bytes(weatherCsv) + Fs.bytes(locationsCsv)
  }

  // ── the dashboard request pool ──

  /** One dashboard request: which function, with which parameters. */
  private final case class Req(id: Int, a: Int, b: Int, d: String,
      x: Double, y: Double, flag: Boolean)

  private val years = 2010 to (2010 + (nDays - 1) / 365)
  /** Seeded request pool: one request per dashboard function. */
  private val pool: IndexedSeq[Req] = {
    val r = new scala.util.Random(ctx.seed * 7919 + 11)
    (0 until 8).map { i =>
      val y0 = years(r.nextInt(years.size))
      val y1 = years(r.nextInt(years.size))
      Req(i, math.min(y0, y1), math.max(y0, y1), s"District_${1 + r.nextInt(26)}",
        20 + r.nextInt(81), 40 + r.nextInt(61), r.nextBoolean())
    }
  }

  private def request(q: Req, w: DataFrame, l: DataFrame): DataFrame = q.id match {
    case 0 => DashboardQueries.precipitationByDistrict(w, l, Some((q.a, q.b)),
      if (q.flag) Some(Seq(q.d, "District_1", "District_2")) else None)
    case 1 => DashboardQueries.precipitationMonthly(w, l, q.d)
    case 2 => DashboardQueries.precipitationBySeason(w, l)
    case 3 => DashboardQueries.topDistrictsMonthly(w, l, k = 2 + q.a % 5)
    case 4 => DashboardQueries.hotDayPct(w, l, tempThreshold = 28 + q.x / 20,
      byDistrict = q.flag, byYear = true)
    case 5 => DashboardQueries.extremeWeatherSummary(w, l, q.x, q.y)
    case 6 => DashboardQueries.severityBreakdown(w, q.x, q.y)
    case _ => DashboardQueries.extremeScatterSample(w, q.x, q.y, limit = 100)
  }

  /** One request, served from the serving tables under `out`. */
  private def serve(spark: SparkSession, q: Req, out: String,
      kind: String = "serve"): Option[Seq[Row]] = {
    val sc = spark.sparkContext
    ctx.rec.op(sc, "serving.request", kind = kind, key = s"req${q.id}") {
      val df = ctx.rec.span(sc, "serving.plan") {
        val d = request(q, spark.read.parquet(s"$out/raw_weather_data"),
          spark.read.parquet(s"$out/locations"))
        d.queryExecution.executedPlan
        d
      }
      ctx.rec.span(sc, "serving.execute")(df.collect().toSeq)
    }
  }

  // ── one pass ──

  private val features = Seq("precipitation_hours", "sunshine_duration", "wind_speed_10m_max")
  private val label = "et0_fao_evapotranspiration"
  private val grids = Seq(
    "precipitation_hours" -> Seq(0.0, 4.0, 8.0, 12.0, 16.0),
    "sunshine_duration" -> Seq(20000.0, 25000.0, 30000.0, 35000.0),
    "wind_speed_10m_max" -> Seq(10.0, 15.0, 20.0, 25.0, 30.0))

  /** The batch layers one at a time, as runAll composes them. */
  private def batchLayers(spark: SparkSession, out: String): Unit = {
    val rec = ctx.rec
    val sc = spark.sparkContext
    rec.op(sc, "io.ingest") {
      val (raw, release) = CsvIngest.readCsvManaged(spark, weatherCsv, WeatherRunner.weatherSchema)
      val w = WeatherAnalytics.prepare(raw).cache()
      w.count()
      val (l, releaseL) = CsvIngest.readCsvManaged(spark, locationsCsv, WeatherRunner.locationSchema)
      (w, () => { release(); releaseL() }, l)
    }.foreach { case (weather, release, locations) =>
      val tables = rec.op(sc, "analytics.plan") {
        val t = Seq(
          "district_monthly_weather" -> WeatherAnalytics.districtMonthly(weather, locations),
          "highest_precipitation" -> WeatherAnalytics.highestPrecipitationMonth(weather),
          "top_temperate_cities" -> WeatherAnalytics.topTemperateCities(weather, locations),
          "evapotranspiration_by_season" -> WeatherAnalytics.seasonalEvapotranspiration(weather, locations),
          "radiation_analysis" -> WeatherAnalytics.radiationAnalysis(weather),
          "weekly_max_temp_hottest_months" -> WeatherAnalytics.weeklyMaxTempHottestMonths(weather, locations),
          "raw_weather_data" -> weather,
          "locations" -> locations)
        t.foreach(_._2.queryExecution.executedPlan)
        t
      }.getOrElse(Nil)
      val hql = rec.op(sc, "app.sql_surface") {
        val d = WeatherRunner.runSqlSurface(spark, weatherCsv, locationsCsv)
        d.queryExecution.executedPlan
        d
      }
      (tables ++ hql.map("top_temperate_cities_hql" -> _)).foreach { case (name, df) =>
        rec.op(sc, "io.result_write", key = name)(ResultStore.overwrite(df, s"$out/$name"))
      }
      ctx.untimed { release(); weather.unpersist() }
    }
  }

  def pass(spark: SparkSession): Unit = {
    val rec = ctx.rec
    val sc = spark.sparkContext
    val p = rec.pass
    val out = s"${ctx.root}/out/p$p"
    batchLayers(spark, out)

    // the model reads the serving table, so every pass trains on the same
    // rows in the same file layout
    val model = rec.op(sc, "ml.train", key = "ml") {
      RidgePipeline.train(spark, spark.read.parquet(s"$out/raw_weather_data")
        .filter(col("month") === 5), features, label)
    }
    val grid = model.flatMap(m => rec.op(sc, "ml.predict", key = "ml") {
      RidgePipeline.predictGrid(spark, m.model, grids, maxPrediction = 1e9).collect().toSeq
    })

    // the dashboard: the pool `Rounds` times across concurrent clients;
    // the request mix is the same on every seed, the seed picks the
    // parameters and which client sends which request
    val served = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Seq[Row])]()
    val order = new scala.util.Random(ctx.seed * 1000003 + p)
      .shuffle(Seq.fill(Rounds)(pool).flatten)
    def clients = order.grouped(order.size / Clients).toSeq.map { mine =>
      new Thread(() => mine.foreach(q => serve(spark, q, out).foreach(r => served.add((q.id, r)))))
    }
    // created inside the round span, the client threads inherit it
    rec.span(sc, "serving.round") { val cs = clients; cs.foreach(_.start()); cs.foreach(_.join()) }

    ctx.untimed {
      tablesOf(p) = tableHashes(spark, out)
      mlOf(p) = (for (m <- model; g <- grid)
        yield Canon.rows(m.metrics.collect().toSeq) + "/" + Canon.rows(g)).getOrElse("failed")
      responsesOf(p) = served.asScala.toSeq.map { case (id, rows) => id -> Canon.rows(rows) }
      ctx.scanCreated(out)
      if (p > 0) Fs.deleteTree(s"${ctx.root}/out/p${p - 1}")
    }
  }

  private def tableHashes(spark: SparkSession, out: String): Map[String, String] =
    WeatherBatch.Tables.map { t =>
      t -> scala.util.Try(Canon.frame(spark.read.parquet(s"$out/$t"))).getOrElse("missing")
    }.toMap

  /** The reference (runAll, one client) and the checks against it. */
  override def finish(spark: SparkSession): Unit = {
    val rec = ctx.rec
    val sc = spark.sparkContext
    val out = s"${ctx.root}/out/reference"
    val ref = rec.op(sc, "app.run_all", key = "reference")(
      WeatherRunner.runAll(spark, weatherCsv, locationsCsv, out)).map { _ =>
      val tables = tableHashes(spark, out)
      if (tables.values.exists(_ == "missing"))
        rec.failWhere(_.key == "reference", "runAll left a table unwritten")
      val responses = pool.flatMap(q => serve(spark, q, out, kind = "work").map(r =>
        q.id -> Canon.rows(r))).toMap
      (tables, responses)
    }
    for (p <- tablesOf.keys.toSeq.sorted) {
      for ((t, h) <- tablesOf(p) if !ref.exists(_._1.get(t).contains(h)))
        rec.failWhere(o => o.pass == p && o.key == t,
          s"pass $p: $t: $h != runAll ${ref.flatMap(_._1.get(t))}")
      if (mlOf(p) == "failed" || mlOf(p) != mlOf(0))
        rec.failWhere(o => o.pass == p && o.key == "ml", s"pass $p: model output differs from pass 0")
      for ((id, h) <- responsesOf(p) if !ref.exists(_._2.get(id).contains(h)))
        rec.failWhere(o => o.pass == p && o.key == s"req$id",
          s"pass $p: dashboard response $id differs from the single-client reference")
    }
  }
}

object WeatherBatch {
  val Tables: Seq[String] = Seq("district_monthly_weather", "highest_precipitation",
    "top_temperate_cities", "evapotranspiration_by_season", "radiation_analysis",
    "weekly_max_temp_hottest_months", "raw_weather_data", "locations",
    "top_temperate_cities_hql")
}
