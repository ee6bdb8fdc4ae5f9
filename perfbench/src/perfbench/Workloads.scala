package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.pos.{Forecast, Main, PosQueries, Qa}
import Harness.{Op, Workload}

/** Workload sizes and query sets (see README.md for why each exists). */
object Workloads {
  type Q = (SparkSession, String) => DataFrame

  /** Registry modules by name, for the `ops.<Module>` layer. */
  val Modules: Seq[(String, Map[String, Q])] = Seq(
    "Relational" -> graft.ops.Relational.queries,
    "ScalarParity" -> graft.ops.ScalarParity.queries,
    "WindowOps" -> graft.ops.WindowOps.queries,
    "TextOps" -> graft.ops.TextOps.queries,
    "DedupOps" -> graft.ops.DedupOps.queries,
    "VectorOps" -> graft.ops.VectorOps.queries,
    "MartOps" -> graft.ops.MartOps.queries,
    "MultiModal" -> graft.ops.MultiModal.queries,
    "EventOps" -> graft.ops.EventOps.queries,
    "ScaleOps" -> graft.ops.ScaleOps.queries,
    "DomainParity" -> graft.ops.DomainParity.queries,
    "CorpusOps" -> graft.ops.CorpusOps.queries,
    "Scd2" -> graft.ops.Scd2.queries,
    "InsightOps" -> graft.ops.InsightOps.queries)

  /** Interactive star-schema queries (one per module, two relational)
    * and one corpus query (IVF-PQ nearest-neighbour search over the
    * embeddings), all over the sf0.1 tables. */
  val AnalyticsQueries: Seq[String] = Seq("q03", "q10", "q26", "q45",
    "q93", "q185", "q117")

  /** Modules whose `ops.<Module>.*` numbers every traced run reports. */
  lazy val ReportedModules: Seq[String] =
    AnalyticsQueries.map(id => moduleOf(key(id)))
      .distinct.sorted

  lazy val moduleOf: Map[String, String] =
    Modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** Registry key of a query id such as "q01". */
  def key(id: String): String =
    graft.SparkEntry.queries.keys.find(_.startsWith(id + "_"))
      .getOrElse(throw new NoSuchElementException(s"no query $id"))

  val PosBranches: Seq[String] = Seq("Centro")
  val PosFirst: LocalDate = LocalDate.parse("2025-01-06")
  val PosBackfillDays = 120
  val PosRefreshes = 1
  val PosChunkDays = 180
  val PosHorizon = 7

  /** Write every workbook one pos_etl pass downloads, as .xlsx files
    * (for the determinism tests). */
  def writeWorkbooks(seed: Long, dir: String): Unit = {
    val w = new PosEtl(seed)
    w.plan.foreach { case (b, s0, e0) =>
      val p = Paths.get(dir, b, s"pagos_${s0}_$e0.xlsx")
      Files.createDirectories(p.getParent)
      Files.write(p, w.gen.workbook(b, s0, e0))
    }
  }

  /** Drop what a query leaked (eager checkpoints) and collect garbage,
    * so each op starts from the same heap state (untimed). */
  def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Time `body` as one sample of `op`; a throw or a failed `check`
    * counts as a failure and leaves no sample. */
  def timed[T](op: Op, tr: Tracer)(body: => T)(check: T => Unit): Unit = {
    op.attempted += 1
    try {
      val t0 = System.nanoTime()
      val r = tr.span(op.layer)(body)
      val dt = (System.nanoTime() - t0) / 1e9
      check(r)
      op.walls += dt
    } catch { case e: Throwable => op.fail(e) }
  }
}

/** Registry queries over generated tables. Each op builds the query
  * (construction-time jobs run here) and writes its result the way
  * `graft.Verify` does — one parquet file, under
  * `checks/<query>/pass<n>` for every pass — which the oracle check
  * reads after the run. The first query is the set-up's warm-up op; two
  * untimed passes then compile every query's generated code and let
  * the JIT settle (measured: the first pass takes over twice a fourth,
  * the second ~1.2x). A third untimed pass did not make runs steadier
  * and does not fit the run-time budget. */
final class QuerySuite(ids: Seq[String]) extends Workload {
  import Workloads._
  private val registry = graft.SparkEntry.queries
  val ops: Seq[Op] = ids.map { id =>
    val k = key(id); new Op(k, s"ops.${moduleOf(k)}")
  }
  private var dir: String = _
  private var checks: String = _
  private var warmDir: String = _
  private var passNo = 0

  def generate(inputs: String, out: String): Unit = {
    dir = inputs
    checks = s"$out/checks"
    warmDir = s"$out/warm"
    val oracles = graft.SparkEntry.oracleSql
    Files.createDirectories(Paths.get(checks))
    Files.writeString(Paths.get(s"$checks/oracle.json"), Json(
      ops.flatMap(o => oracles.get(o.name).map(o.name -> _)).toMap))
  }

  private def execute(spark: SparkSession, o: Op, tr: Tracer,
                      dest: String): Unit = {
    val df = tr.span(o.layer + ".build")(registry(o.name)(spark, dir))
    tr.span(o.layer + ".exec")(df.coalesce(1).write.mode("overwrite")
      .parquet(dest))
  }

  def warm(spark: SparkSession): Unit = {
    execute(spark, ops.head, new Tracer(spark, "warm"),
      s"$warmDir/${ops.head.name}")
    cleanup(spark)
  }

  val warmupPasses = 2

  def pass(spark: SparkSession, tr: Tracer): Unit = {
    ops.foreach { o =>
      timed(o, tr)(execute(spark, o, tr, s"$checks/${o.name}/pass$passNo"))(
        _ => ())
      cleanup(spark)
    }
    passNo += 1
  }

  def scanPartitions(spark: SparkSession): Int =
    Seq("documents", "embeddings")
      .map(graft.Tables.t(spark, dir, _).rdd.getNumPartitions).sum
}

/** The payments ETL over seeded workbooks: per pass, on a fresh data
  * root, one backfill, one report and a few one-day refreshes, all
  * through `PosQueries.getPayments` over `Main.defaultStages`. Every
  * op's output is checked against the planted truth after its timer
  * stops. */
final class PosEtl(seed: Long) extends Workload {
  import Workloads._
  private val backfillEnd = PosFirst.plusDays(PosBackfillDays - 1L)
  private val refreshDays =
    (1 to PosRefreshes).map(i => backfillEnd.plusDays(i.toLong))
  private val chunks = graft.pos.Intervals
    .iterChunks(PosFirst, backfillEnd, PosChunkDays)
  private val requests = chunks ++ refreshDays.map(d => (d, d))

  /** Every other workbook a branch downloads, the first included, has a
    * "Pagos Eliminados" sheet: the backfill chunk has one, the refresh
    * day has none. */
  val gen = new PosGen(seed, PosBranches, PosFirst,
    PosBackfillDays + PosRefreshes,
    requests.indices.collect { case i if i % 2 == 0 => requests(i)._1 }.toSet)

  /** Every (branch, chunk) workbook one pass downloads. */
  val plan: Seq[(String, LocalDate, LocalDate)] = for {
    b <- PosBranches
    (s0, e0) <- requests
  } yield (b, s0, e0)

  val backfill = new Op("backfill", "pos.backfill")
  val report = new Op("report", "pos.report")
  val refresh = new Op("refresh", "pos.refresh", PosRefreshes)
  val ops: Seq[Op] = Seq(backfill, report, refresh)

  private var served: Map[(String, LocalDate, LocalDate), Array[Byte]] =
    Map.empty
  private var dir: String = _
  private var passNo = 0

  /** `Main.defaultStages` over `root`, with the injected POS transport
    * serving the pre-rendered workbooks, and every stage in a span. */
  private def stages(spark: SparkSession, root: String,
                     tr: Tracer): PosQueries.EtlStages = {
    val transport: Main.Transport = (b, s0, e0) => {
      tr.counters.add("pos.staging.new_workbooks", 1)
      served((b, s0, e0))
    }
    val st = Main.defaultStages(spark, root, PosChunkDays, PosBranches,
      transport)
    val raw = new File(s"$root/raw/payments")
    def stored = Option(raw.listFiles()).getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && d.getName != "_meta")
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[File]))
      .count(_.getName.endsWith(".xlsx"))
    PosQueries.EtlStages(
      download = (s, e) => tr.span("pos.download")(st.download(s, e)),
      clean = (s, e) => {
        tr.counters.add("pos.staging.workbooks", stored.toLong)
        tr.span("pos.staging.clean")(st.clean(s, e))
      },
      aggregate = (s, e) => tr.span("pos.aggregate")(st.aggregate(s, e)))
  }

  def generate(inputs: String, out: String): Unit = {
    served = plan.map(k => k -> gen.workbook(k._1, k._2, k._3)).toMap
    dir = s"$out/pos"
  }

  /** The staging layer on its own: the first chunk's workbook cleaned
    * into fact rows. */
  def warm(spark: SparkSession): Unit = {
    val (b, s0, e0) = plan.head
    val d = new File(s"$dir/warm/$b")
    Harness.rmTree(d.getParentFile)
    d.mkdirs()
    Files.write(Paths.get(d.getPath, "warm.xlsx"), served((b, s0, e0)))
    graft.pos.staging.PaymentsXlsx.clean(spark, d.getPath, b,
      Some(s0.toString), Some(e0.toString)).collect()
    Harness.rmTree(d.getParentFile)
  }

  val warmupPasses = 0

  private def runReport(mart: DataFrame, tr: Tracer)
      : (Array[Row], Array[Row], Boolean) = {
    val qa = tr.span("pos.qa") {
      val r = Qa.runPaymentsQa(mart, level = 4)
      Seq(r.missingDays, r.duplicateDays, r.zeroMethodFlags,
        r.zscoreAnomalies).flatten.foreach(_.count())
      r
    }
    val (fc, dep) = tr.span("pos.forecast") {
      val (f, d) = Forecast.runPaymentsForecast(mart,
        horizonDays = PosHorizon, model = "arima")
      (f.collect(), d)
    }
    (fc, tr.span("pos.deposits")(dep.collect()), qa.hasErrors)
  }

  private def checkMart(rows: Array[Row], days: Seq[LocalDate],
                        chunkOf: LocalDate => (LocalDate, LocalDate))
      : Unit = {
    val got = rows.map(r => (r.getAs[String]("sucursal"),
      r.getAs[java.sql.Date]("fecha").toLocalDate) -> r).toMap
    val want = for (b <- PosBranches; d <- days) yield {
      val (s0, e0) = chunkOf(d); gen.truth(b, d, s0, e0)
    }
    if (got.size != want.size)
      throw new AssertionError(s"mart has ${got.size} rows, want ${want.size}")
    want.foreach { t =>
      val r = got.getOrElse((t.branch, t.day),
        throw new AssertionError(s"no mart row for ${t.branch} ${t.day}"))
      def near(c: String, v: Double): Unit =
        if (math.abs(r.getAs[Double](c) - v) > 0.005)
          throw new AssertionError(
            s"${t.branch} ${t.day} $c = ${r.getAs[Double](c)}, want $v")
      PosGen.Buckets.foreach(b => near(b, t.buckets(b)))
      near("propinas", t.tips)
      if (r.getAs[Long]("num_tickets") != t.tickets ||
          r.getAs[Long]("tickets_with_eliminations") != t.eliminated)
        throw new AssertionError(s"${t.branch} ${t.day} ticket counts " +
          s"${r.getAs[Long]("num_tickets")}/" +
          s"${r.getAs[Long]("tickets_with_eliminations")}, want " +
          s"${t.tickets}/${t.eliminated}")
    }
  }

  def pass(spark: SparkSession, tr: Tracer): Unit = {
    val root = s"$dir/pass$passNo"
    passNo += 1
    val q = new PosQueries(spark, root)
    val st = stages(spark, root, tr)
    val history = Iterator.iterate(PosFirst)(_.plusDays(1))
      .take(PosBackfillDays).toSeq
    var mart: DataFrame = null
    timed(backfill, tr) {
      mart = tr.span("pos.getPayments")(q.getPayments(st,
        PosFirst.toString, backfillEnd.toString))
      mart.collect()
    } { rows =>
      checkMart(rows, history, d => chunks.find(c => !d.isBefore(c._1) &&
        !d.isAfter(c._2)).get)
    }
    timed(report, tr) {
      if (mart == null) throw new IllegalStateException("no backfill mart")
      runReport(mart, tr)
    } { case (fc, dep, qaErrors) =>
      val want = PosBranches.size * Forecast.DefaultMetrics.size * PosHorizon
      if (fc.length != want)
        throw new AssertionError(s"forecast has ${fc.length} rows, want $want")
      if (dep.length != PosHorizon)
        throw new AssertionError(s"deposit schedule has ${dep.length} rows")
      if (qaErrors) throw new AssertionError("QA reported errors")
    }
    refreshDays.foreach { d =>
      timed(refresh, tr) {
        tr.span("pos.getPayments")(
          q.getPayments(st, d.toString, d.toString)).collect()
      }(rows => checkMart(rows, Seq(d), x => (x, x)))
    }
    Harness.rmTree(new File(root))
  }

  def scanPartitions(spark: SparkSession): Int = 0
}
