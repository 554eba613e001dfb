package etlbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.time.LocalDate
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.BenchBus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.metrics.source.CodegenMetrics
import graft.EtlMain
import graft.etl.Pipeline
import graft.io.{Readers, Writers}
import graft.reports.Reports

/** Benchmark of the paper's ETL (`graft.EtlMain.run`) on seeded inputs.
  *
  * {{{
  * EtlBench --workload etl_bulk|etl_daily --seed N --seconds S --trace 0|1
  * }}}
  *
  * One JVM, one `local[k]` session configured like `EtlMain.main`, a
  * closed loop of back-to-back passes over the same generated inputs,
  * every pass anchored at the fixed [[Gen.AsOf]]. Every pass's outputs
  * are checked against the generator's manifest and against the first
  * pass. The last stdout line is one JSON object.
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` prints the
  * per-layer metrics of a traced replica of `EtlMain.run` (see
  * [[tracedPass]]) interleaved with untraced passes.
  */
object EtlBench {

  val Workloads: Map[String, Gen.Shape] = Map(
    // full-history reload: 640 days, so the reports and the base sink carry
    // more groups and bytes, and more rows go through the row kernels
    "etl_bulk" -> Gen.Shape(8000, LocalDate.of(2023, 1, 1), 640),
    // one day's extract: the fixed cost of the pass's jobs and commits dominates
    "etl_daily" -> Gen.Shape(5000, LocalDate.of(2024, 7, 1), 1))

  val Sinks: Seq[String] = Seq("base_tratada_completa", "agenda_comparecimento",
    "status_por_turno", "perfil_noshow", "financeiro", "atravessamento",
    "fluxo_pacientes_agregado", "indicadores_confirmacao", "qualidade_dados",
    "perfil_agenda")

  /** Setup repetitions whose median is `setup_s`. */
  private val SetupReps = 5
  /** Warm passes per run at least. A run has room for a cold pass and
    * two warm passes of either workload within its time budget; the
    * window given by --seconds starts after the cold pass, so it adds
    * passes only if a pass gets several times faster. */
  private val MinWarm = 2
  /** Warm passes after the first start only if they should end within
    * this many seconds of JVM life, which keeps a run near its time budget
    * when the host is slow. */
  private val BudgetS = 70.0
  /** No pass starts once it could end past this many seconds of JVM life;
    * the run must print its result within 180 s. */
  private val DeadlineS = 155.0
  /** A warm pass takes about half as long as the cold one: the first
    * warm pass's expected length, for the deadline check. */
  private val WarmShare = 0.6
  private val t0 = System.nanoTime()
  private def elapsed: Double = (System.nanoTime() - t0) / 1e9

  private def log(s: String): Unit = System.err.println(s"[etlbench] $s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts.getOrElse("workload", "")
    val shape = Workloads.getOrElse(name, {
      log(s"unknown workload '$name' (known: ${Workloads.keys.toSeq.sorted.mkString(", ")})")
      sys.exit(2)
    })
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "30").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val k = math.min(4, Runtime.getRuntime.availableProcessors())
    val work = Paths.get(".bench_build", "work").toAbsolutePath
      .resolve(s"$name-s$seed-t${if (trace) 1 else 0}-${ProcessHandle.current().pid()}")

    val g0 = System.nanoTime()
    val (in, manifest) = Gen.generate(work.resolve("in"), shape, seed)
    log(f"generated ${manifest.rows} rows, ${manifest.baseBytes / 1048576.0}%.1f MB base " +
      f"in ${(System.nanoTime() - g0) / 1e9}%.2f s: ${manifest.toJson}")

    val setups = (1 to SetupReps).map { i =>
      val s0 = System.nanoTime()
      val s = session(k, work)
      val dt = (System.nanoTime() - s0) / 1e9
      if (i < SetupReps) s.stop()
      dt
    }
    val spark = SparkSession.active
    log(f"local[$k], setups ${setups.map(x => f"$x%.3f").mkString(" ")} s")

    val bench = new Bench(spark, in, manifest, work.resolve("out"))
    val (ok, result) =
      try {
        if (trace) bench.traced(seconds)
        else bench.endToEnd(seconds, median(setups))
      } finally {
        spark.stop()
        graft.core.Fs.deleteRecursively(work)
      }
    println(result)
    sys.exit(if (ok) 0 else 1)
  }

  /** The session `EtlMain.main` builds, on `local[k]`. Scratch space
    * stays under the benchmark's work directory. */
  def session(k: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-etl")
      .master(s"local[$k]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The result line; returns the verdict with it. */
  def json(correct: Boolean, attempted: Int, failed: Int,
           metrics: Seq[(String, Double, String)]): (Boolean, String) = {
    val ms = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) -1.0 else v
      s""""$n": {"value": ${java.lang.Double.toString(x)}, "unit": "$u"}"""
    }.mkString(", ")
    (correct, s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}""")
  }

  // ---------------------------------------------------------------------

  final class Bench(spark: SparkSession, in: Gen.Inputs, m: Gen.Manifest, out: Path) {
    private val sc = spark.sparkContext
    private val asOf: Column = to_timestamp(lit(Gen.AsOfSql))
    private var attempted, failed = 0
    private var firstHashes: Option[Seq[String]] = None
    private val expectedSummary = Reports.formatSummary(m.rows, m.count("NO-SHOW"),
      m.realizedCents / 100.0, m.potentialCents / 100.0)

    /** One untraced `EtlMain.run`; returns wall seconds and the hashes of
      * the ten sinks, or None when the pass threw or its output is wrong. */
    private def pass(): (Double, Option[Seq[String]]) = {
      attempted += 1
      val buf = new java.io.ByteArrayOutputStream
      val p0 = System.nanoTime()
      val ok =
        try {
          Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
            EtlMain.run(spark, in.base.toString, in.prices.toString, out.toString,
              Some(in.occupancy.toString), asOf)
          }
          true
        } catch { case NonFatal(e) => log(s"pass $attempted threw: $e"); false }
      val wall = (System.nanoTime() - p0) / 1e9
      (wall, if (ok) verify(buf.toString("UTF-8").trim) else fail())
    }

    private def fail(): Option[Seq[String]] = { failed += 1; None }

    /** Output check: ten sinks, manifest totals, and the nine aggregate
      * sinks byte-identical to the first pass's. */
    private def verify(summary: String): Option[Seq[String]] = {
      val problems = mutable.ArrayBuffer[String]()
      val parts = Sinks.map { s =>
        val dir = out.resolve(s)
        val files =
          if (Files.isDirectory(dir)) Files.list(dir).iterator().asScala
            .filter(_.getFileName.toString.startsWith("part-")).toSeq
          else Nil
        if (files.size != 1 || !Files.exists(dir.resolve("_SUCCESS")))
          problems += s"$s: expected one committed part file, found ${files.size}"
        files.headOption
      }
      if (problems.isEmpty) {
        val hashes = parts.flatten.map(sha256)
        val baseRows = lineCount(parts.head.get) - 1
        if (baseRows != m.rows) problems += s"base_tratada_completa has $baseRows rows, manifest ${m.rows}"
        val kpis = Files.readAllLines(parts(Sinks.indexOf("indicadores_confirmacao")).get).asScala
          .drop(1).map(_.split(";")).map(a => a(0) -> a(1).toLong).toMap
        val expected = Map("TOTAL_AGENDAMENTOS" -> m.rows, "CONFIRMADOS" -> m.confirmed,
          "ATENDIDOS" -> m.count("ATENDIDO"), "NO_SHOWS" -> m.count("NO-SHOW"),
          "NO_SHOWS_CONFIRMADOS" -> m.noShowConfirmed, "CANCELADOS" -> m.cancelled)
        if (kpis != expected) problems += s"indicadores_confirmacao $kpis != manifest $expected"
        if (summary != expectedSummary) problems += s"KPI summary '$summary' != '$expectedSummary'"
        firstHashes match {
          case None => firstHashes = Some(hashes)
          case Some(h) if h.tail != hashes.tail => problems += "aggregate sinks differ from the first pass"
          case _ => ()
        }
        if (problems.isEmpty) return Some(hashes)
      }
      problems.foreach(p => log(s"pass $attempted FAILED: $p"))
      fail()
    }

    private def canStart(expectedWall: Double, limit: Double = DeadlineS): Boolean =
      elapsed + expectedWall < limit

    // ------------------------------------------------------------ untraced

    def endToEnd(seconds: Double, setupS: Double): (Boolean, String) = {
      val pc = new PassCounters
      sc.addSparkListener(pc)
      val (cold, _) = pass()
      val w0 = System.nanoTime()
      val walls, cpus, peaks = mutable.ArrayBuffer[Double]()
      var next = cold * WarmShare
      while (((System.nanoTime() - w0) / 1e9 < seconds || walls.size < MinWarm) &&
          canStart(next, if (walls.isEmpty) DeadlineS else BudgetS)) {
        pc.reset()
        val (wall, _) = pass()
        BenchBus.drain(sc)
        walls += wall; cpus += pc.cpuSeconds; peaks += pc.storagePeakMb
        next = wall
      }
      sc.removeSparkListener(pc)
      val runS = median(walls.toSeq)
      log(f"cold $cold%.3f s; ${walls.size} warm passes: " +
        walls.map(x => f"$x%.3f").mkString(" ") + f"; error_rate ${failed.toDouble / attempted}%.4f")
      json(failed == 0 && walls.nonEmpty, attempted, failed, Seq(
        ("setup_s", setupS, "s"),
        ("run_s", runS, "s"),
        ("cpu_s", median(cpus.toSeq), "s"),
        ("storage_peak_mb", median(peaks.toSeq), "MB"),
        ("rows_per_s", m.rows / runS, "rows/s")))
    }

    // -------------------------------------------------------------- traced

    private val walls = mutable.LinkedHashMap[String, Double]()

    /** Runs `body` as span `name`: wall time accumulates under the name
      * and Spark work launched inside is attributed to it. */
    private def span[T](name: String)(body: => T): T = {
      sc.setLocalProperty(Tracer.SpanKey, name)
      val s0 = System.nanoTime()
      try body finally {
        walls(name) = walls.getOrElse(name, 0.0) + (System.nanoTime() - s0) / 1e9
        sc.setLocalProperty(Tracer.SpanKey, null)
      }
    }

    private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    private var correctness: Option[(Long, Long)] = None
    private var cacheMb = 0.0

    /** `EtlMain.run`'s sequence of public calls, replayed with a span
      * around each. The lazy Pipeline steps are forced first as
      * cumulative noop prefixes (read, +parse, +enrich, +priceJoin) so
      * each step's cost is a difference of two prefixes; the persisted
      * frame is then built by an explicit count, so the base sink is
      * timed on its own. Returns the captured KPI summary. */
    private def tracedPass(): String = {
      val base = span("readers/base") {
        Readers.csvWithEncodingRetry(spark, in.base.toString, sep = ";")
      }
      val prices = span("readers/prices") { Readers.csvPriceTable(spark, in.prices.toString) }
      val parsed = Pipeline.parseDates(Pipeline.canonicalize(base))
      val enrichedOnly = Pipeline.enrich(parsed, asOf)
      val joined = Pipeline.priceJoin(enrichedOnly, prices)
      span("pipeline/read") { noop(base) }
      span("pipeline/parse") { noop(parsed) }
      span("pipeline/enrich") { noop(enrichedOnly) }
      span("pipeline/price_join") { noop(joined) }

      val enriched = joined.persist()
      span("etlmain/cache_build") { enriched.count() }
      if (correctness.isEmpty) span("check") {
        val unparsed = base.select(Pipeline.DateColumns.filter(base.columns.contains).map(c =>
          sum(when(col(c).isNotNull && Pipeline.parseDate(col(c)).isNull, 1L)
            .otherwise(0L))).reduce(_ + _)).head().getLong(0)
        val unmatched = enriched.filter(col("Valor") === 0.0).count()
        correctness = Some((unparsed, unmatched))
      }
      cacheMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

      def sink(name: String, df: DataFrame): Unit =
        Writers.csvBr(df, out.resolve(name).toString, singleFile = true)
      val keep = enriched.columns.filterNot(_.startsWith("key_"))
      span("writers/base") { sink("base_tratada_completa", enriched.select(keep.map(col): _*)) }
      span("reports/daily_attendance") {
        sink("agenda_comparecimento", Reports.dailyAttendance(enriched))
      }
      span("reports/status_by_shift") { sink("status_por_turno", Reports.statusByShift(enriched)) }
      span("reports/noshow_profile") { sink("perfil_noshow", Reports.noShowProfile(enriched)) }
      span("reports/financials") { sink("financeiro", Reports.financials(enriched)) }
      span("reports/journey_times") { sink("atravessamento", Reports.journeyTimes(enriched)) }
      span("reports/patient_flow") {
        sink("fluxo_pacientes_agregado", Reports.patientFlow(enriched))
      }
      span("reports/confirmation_kpis") {
        sink("indicadores_confirmacao", Reports.confirmationKpis(enriched))
      }
      span("reports/data_quality") {
        sink("qualidade_dados", Reports.dataQuality(enriched,
          EtlMain.QualityStringCols, EtlMain.QualityOtherCols))
      }
      val occ = span("readers/occupancy") {
        Readers.optionalCsv(spark, in.occupancy.toString, ";",
          Seq("Nome_Medico", "qtde_horarios_disponiveis"))
      }
      span("reports/agenda_profile") {
        val withOcc = occ match {
          case Some(o) => Pipeline.occupancyJoin(enriched, o)
          case None => enriched.withColumn("Horarios_Disponiveis", lit(0L))
        }
        sink("perfil_agenda", Reports.agendaProfile(withOcc))
      }
      val summary = span("etlmain/kpi_collect") {
        val k = enriched.agg(
          count(lit(1)).as("total"),
          coalesce(sum(when(col("Status_Consolidado") === "NO-SHOW", 1L)
            .otherwise(0L)), lit(0L)).as("ns"),
          coalesce(sum(when(col("Status_Consolidado") === "ATENDIDO",
            round(col("Valor") * 100).cast("long")).otherwise(0L)), lit(0L)).as("realized_c"),
          coalesce(sum(round(col("Valor") * 100).cast("long")), lit(0L)).as("potential_c"))
          .head()
        Reports.formatSummary(k.getLong(0), k.getLong(1),
          k.getLong(2) / 100.0, k.getLong(3) / 100.0)
      }
      enriched.unpersist()
      summary
    }

    def traced(seconds: Double): (Boolean, String) = {
      val tracer = new Tracer
      sc.addSparkListener(tracer)
      val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
      def put(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer()) += v

      // cold, untraced: codegen cost is paid here
      val cg0 = CodeGenerator.compileTime
      val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (cold, coldHashes) = pass()
      val w0 = System.nanoTime()
      put("spark.cold_pass_s", cold)
      put("spark.codegen_compile_s", (CodeGenerator.compileTime - cg0) / 1e9)
      put("spark.codegen_classes", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0).toDouble)
      var reference = coldHashes
      val untracedWalls, tracedWalls = mutable.ArrayBuffer[Double]()
      var driftOk = true
      var next = cold * WarmShare
      def more: Boolean =
        ((System.nanoTime() - w0) / 1e9 < seconds || tracedWalls.isEmpty) && canStart(next)

      while (more) {
        // untraced pass: engine-wide counters of the real pipeline
        BenchBus.drain(sc); tracer.reset()
        val u0 = System.currentTimeMillis()
        val (wall, hashes) = pass()
        val u1 = System.currentTimeMillis()
        BenchBus.drain(sc)
        if (reference.isEmpty) reference = hashes
        untracedWalls += wall
        val (accs, scans) = tracer.snapshot()
        val all = new Acc
        accs.values.foreach(all += _)
        put("spark.jobs", all.jobs.toDouble)
        put("spark.stages", all.stages.toDouble)
        put("spark.tasks", all.tasks.toDouble)
        put("spark.driver_s", ((u1 - u0) - tracer.jobBusyMs(u0, u1)) / 1000.0)
        put("spark.shuffle_write_mb", all.shuffleWriteBytes / 1048576.0)
        put("spark.spill_mb", all.spillBytes / 1048576.0)
        put("spark.gc_s", all.gcMs / 1000.0)
        put("etlmain.enriched_scans", scans.toDouble)

        next = wall * 1.4 // the traced replica also forces four noop prefixes
        if (canStart(next)) {
          tracer.reset(); walls.clear()
          attempted += 1
          val t0 = System.nanoTime()
          val summary =
            try Some(tracedPass())
            catch { case NonFatal(e) => log(s"traced pass threw: $e"); None }
          val tWall = (System.nanoTime() - t0) / 1e9 - walls.getOrElse("check", 0.0)
          BenchBus.drain(sc)
          next = tWall
          val hashes = summary.flatMap(verify)
          if (hashes.isDefined && reference.isDefined && hashes != reference) {
            driftOk = false
            log("DRIFT GUARD FAILED: the traced replica's sinks differ from EtlMain.run's")
          }
          if (summary.isEmpty) failed += 1
          tracedWalls += tWall
          layerSamples(put, tracer, out)
        }
      }
      sc.removeSparkListener(tracer)

      val (unparsed, unmatched) = correctness.getOrElse((-1L, -1L))
      val countsOk = unparsed == m.malformedDates && unmatched == m.unmatchedPriceRows
      if (!countsOk) log(s"correctness counts FAILED: unparsed dates $unparsed (manifest " +
        s"${m.malformedDates}), unmatched price rows $unmatched (manifest ${m.unmatchedPriceRows})")
      put("pipeline.unparsed_dates", unparsed.toDouble)
      put("pipeline.unmatched_price_rows", unmatched.toDouble)
      put("trace.overhead_s", median(tracedWalls.toSeq) - median(untracedWalls.toSeq))
      log(f"cold $cold%.3f s; untraced ${untracedWalls.map(x => f"$x%.3f").mkString(" ")}; " +
        f"traced ${tracedWalls.map(x => f"$x%.3f").mkString(" ")}")
      val metrics = PerLayer.map { case (n, u) =>
        (n, median(samples.get(n).map(_.toSeq).getOrElse(Nil)), u)
      }
      metrics.filter(_._2.isNaN).foreach(x => log(s"metric ${x._1} was not measured"))
      json(failed == 0 && driftOk && countsOk && metrics.forall(!_._2.isNaN),
        attempted, failed, metrics)
    }

    /** Per-layer values of the traced pass that just ended. */
    private def layerSamples(put: (String, Double) => Unit, tracer: Tracer, out: Path): Unit = {
      val (accs, _) = tracer.snapshot()
      def w(s: String): Double = walls.getOrElse(s, 0.0)
      def a(prefix: String): Acc = {
        val r = new Acc
        accs.foreach { case (k, v) => if (k.startsWith(prefix)) r += v }
        r
      }
      def cpu(s: String): Double = a(s).cpuNs / 1e9
      val readers = walls.keys.filter(_.startsWith("readers/")).toSeq
      put("readers.wall_s", readers.map(w).sum)
      put("readers.jobs", a("readers/").jobs.toDouble)
      put("readers.bytes_read_ratio",
        (a("readers/base").inputBytes + a("etlmain/cache_build").inputBytes).toDouble / m.baseBytes)
      put("pipeline.parse_s", w("pipeline/parse") - w("pipeline/read"))
      put("pipeline.parse_cpu_s", cpu("pipeline/parse") - cpu("pipeline/read"))
      put("pipeline.enrich_s", w("pipeline/enrich") - w("pipeline/parse"))
      put("pipeline.enrich_cpu_s", cpu("pipeline/enrich") - cpu("pipeline/parse"))
      put("pipeline.price_join_s", w("pipeline/price_join") - w("pipeline/enrich"))
      put("pipeline.price_join_cpu_s", cpu("pipeline/price_join") - cpu("pipeline/enrich"))
      put("etlmain.cache_build_s", w("etlmain/cache_build"))
      put("etlmain.cache_mb", cacheMb)
      put("etlmain.kpi_collect_s", w("etlmain/kpi_collect"))
      ReportSpans.foreach(r => put(s"reports.${r}_s", w(s"reports/$r")))
      put("reports.total_s", ReportSpans.map(r => w(s"reports/$r")).sum)
      put("reports.jobs", a("reports/").jobs.toDouble)
      put("reports.shuffle_mb", a("reports/").shuffleWriteBytes / 1048576.0)
      put("writers.base_s", w("writers/base"))
      put("writers.base_tasks", a("writers/base").tasks.toDouble)
      val files = Sinks.flatMap { s =>
        Files.list(out.resolve(s)).iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toSeq
      }
      put("writers.files", files.size.toDouble)
      put("writers.out_mb", files.map(Files.size).sum / 1048576.0)
    }
  }

  val ReportSpans: Seq[String] = Seq("daily_attendance", "status_by_shift",
    "noshow_profile", "financials", "journey_times", "patient_flow",
    "confirmation_kpis", "data_quality", "agenda_profile")

  /** Every per-layer metric of the traced run, with its unit. */
  val PerLayer: Seq[(String, String)] = Seq(
    "readers.wall_s" -> "s", "readers.jobs" -> "count", "readers.bytes_read_ratio" -> "ratio",
    "pipeline.parse_s" -> "s", "pipeline.parse_cpu_s" -> "s",
    "pipeline.enrich_s" -> "s", "pipeline.enrich_cpu_s" -> "s",
    "pipeline.price_join_s" -> "s", "pipeline.price_join_cpu_s" -> "s",
    "pipeline.unparsed_dates" -> "count", "pipeline.unmatched_price_rows" -> "count",
    "etlmain.cache_build_s" -> "s", "etlmain.cache_mb" -> "MB",
    "etlmain.enriched_scans" -> "count", "etlmain.kpi_collect_s" -> "s") ++
    ReportSpans.map(r => s"reports.${r}_s" -> "s") ++ Seq(
    "reports.total_s" -> "s", "reports.jobs" -> "count", "reports.shuffle_mb" -> "MB",
    "writers.base_s" -> "s", "writers.base_tasks" -> "count",
    "writers.files" -> "count", "writers.out_mb" -> "MB",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.gc_s" -> "s", "spark.cold_pass_s" -> "s",
    "spark.codegen_compile_s" -> "s", "spark.codegen_classes" -> "count",
    "trace.overhead_s" -> "s")

  private def sha256(p: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def lineCount(p: Path): Long = {
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var lines = 0L
      var n = in.read(buf)
      while (n > 0) {
        var i = 0
        while (i < n) { if (buf(i) == '\n') lines += 1; i += 1 }
        n = in.read(buf)
      }
      lines
    } finally in.close()
  }
}
