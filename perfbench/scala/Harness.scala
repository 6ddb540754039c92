package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{GraftExtensions, Scratch, Tables}
import graft.etl.{SparkifyEtl, SparkifyQueries}

/** One benchmark run inside one JVM: session, one untimed pass, timed passes
  * for a fixed number of seconds, then untimed output dumps for the checks.
  *
  * Arguments are `key=value`: workload, data, work, seconds, trace, seed,
  * warm (untimed passes), and `groups` (query workloads) or `user` (the
  * README's top-sessions user, sparkify_etl).
  * Writes `work/result.json` (one record per operation plus run-level
  * counters) and, when tracing, `work/spans.json`.
  */
object Harness {
  /** (registry object, layer, queries) */
  private val registries: Seq[(String, String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    ("CoreQueries", "relational", graft.relational.CoreQueries.queries),
    ("AdvancedQueries", "relational", graft.relational.AdvancedQueries.queries),
    ("EventQueries", "relational", graft.relational.EventQueries.queries),
    ("DedupQueries", "text", graft.text.DedupQueries.queries),
    ("VectorQueries", "vector", graft.vector.VectorQueries.queries))

  private val tableLoaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
    "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  final case class Op(pass: Int, phase: String, traced: Boolean, kind: String, name: String,
      layer: String, wallMs: Double, buildMs: Double, execMs: Double, ok: Boolean, err: String,
      compiles: Long, compileMs: Double, gcMs: Double, newBuilds: Int, span: Int, parts: Seq[Int])

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def compileMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
  /** Completion markers of Scratch.buildOnce / publishOnce artifacts
    * (`_built`, `_trained`, `_graphbuilt`, ...): empty files named `_*`,
    * other than Spark's own `_SUCCESS`.
    */
  private def builtMarkers(root: String): Int = walk(new File(root)).count(f =>
    f.getName.startsWith("_") && f.getName != "_SUCCESS" && f.length == 0)

  private def vmHwmMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val data = a("data")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val seed = a("seed").toLong
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val tracer = new Tracer(s"$workload-s$seed-p${ProcessHandle.current().pid()}")

    val sessionStart = tracer.nowMs
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the same session settings as graft.Bench
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", Scratch.path("warehouse"))
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    val sc = spark.sparkContext
    val root = tracer.record(0, "run", "run", jvmStartMs, Double.NaN)
    tracer.record(root.id, "session", "session", sessionStart, tracer.nowMs)

    var tracing = false
    def setTracing(on: Boolean): Unit = if (on != tracing) {
      if (on) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
      else {
        org.apache.spark.PerfbenchBusDrain(sc)
        sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer)
      }
      tracing = on
    }

    /** Runs `body` inside a span when tracing; the span id rides on the
      * jobs `body` submits and is passed to `body` (0 when not tracing).
      * Returns elapsed milliseconds and the span id.
      */
    def timed(parent: Int, name: String, layer: String)(body: Int => Unit): (Double, Int) = {
      val span = if (tracing) tracer.open(parent, name, layer) else null
      val id = if (span != null) span.id else 0
      if (span != null) sc.setLocalProperty("perfbench.span", id.toString)
      val t0 = System.nanoTime()
      try body(id)
      finally if (span != null) {
        tracer.close(span)
        sc.setLocalProperty("perfbench.span", if (parent > 0) parent.toString else null)
      }
      ((System.nanoTime() - t0) / 1e6, id)
    }

    val ops = mutable.ArrayBuffer.empty[Op]
    var pass = 0
    var phase = "warm"
    var passSpan = 0
    var warmPass = 0
    val warmPasses = a("warm").toInt
    val scratchRoot = Scratch.root

    /** One operation: a span of `layer` around the parts, each part a child
      * span (name, layer, body). Part times are kept in order, so a query's
      * parts give its build and exec times.
      */
    def op(kind: String, name: String, layer: String)(parts: (String, String, () => Unit)*): Unit = {
      val c0 = compiles; val cm0 = compileMs; val g0 = gcMs
      val b0 = if (phase == "warm") builtMarkers(scratchRoot) else 0
      val times = mutable.ArrayBuffer.empty[Double]
      val partIds = mutable.ArrayBuffer.empty[Int]
      var err = ""
      val (wall, spanId) = try timed(passSpan, name, layer) { self =>
        parts.foreach { case (pn, pl, body) =>
          val (ms, id) = timed(self, pn, pl)(_ => body())
          times += ms
          if (id > 0) partIds += id
        }
      } catch { case NonFatal(e) =>
        err = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300)
        System.err.println(s"[perfbench] $name failed: $err")
        (Double.NaN, 0)
      }
      val newBuilds = if (phase == "warm") builtMarkers(scratchRoot) - b0 else 0
      ops += Op(pass, phase, tracing, kind, name, layer, wall,
        times.headOption.getOrElse(Double.NaN), times.lift(1).getOrElse(Double.NaN),
        err.isEmpty, err, compiles - c0, compileMs - cm0, gcMs - g0, newBuilds,
        spanId, partIds.toSeq)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // ---- workload definitions: one pass = a list of operations ----------
    // the subset rule, per group of registries: the group's queries in
    // numeric order, every k-th one starting with the first
    // (groups=CoreQueries,EventQueries:10;VectorQueries:12)
    val queryFns = a.getOrElse("groups", "").split(";").filter(_.nonEmpty).toSeq.flatMap { g =>
      val Array(names, every) = g.split(":")
      val modules = names.split(",").toSet
      require(modules.subsetOf(registries.map(_._1).toSet), s"unknown registry in $modules")
      registries.filter(r => modules.contains(r._1))
        .flatMap { case (_, layer, reg) => reg.toSeq.map { case (n, fn) => (n, layer, fn) } }
        .sortBy(q => (q._1.drop(1).takeWhile(_.isDigit).toInt, q._1))
        .zipWithIndex.collect { case (q, i) if i % every.toInt == 0 => q }
    }
    val queryNames = queryFns.map(_._1)
    val etlOut = s"$work/etl_out"
    def tbl(t: String): DataFrame = spark.read.parquet(s"$etlOut/$t")
    lazy val readmeUser = a("user")
    val readme: Seq[(String, () => DataFrame)] = Seq(
      "topSongs" -> (() => SparkifyQueries.topSongs(tbl("songplays"), tbl("songs"), tbl("artists"))),
      "topUsers" -> (() => SparkifyQueries.topUsers(tbl("songplays"), tbl("users"))),
      "topUserId" -> (() => SparkifyQueries.topUserId(tbl("songplays"), tbl("users"))),
      "topSessionsForUser" -> (() =>
        SparkifyQueries.topSessionsForUser(tbl("songplays"), tbl("users"), tbl("songs"), readmeUser)))

    def passOps(p: Int): Seq[() => Unit] = workload match {
      case "sparkify_etl" =>
        val opens: Seq[() => Unit] = if (!tracing) Nil else Seq(() =>
          op("open", "readSongData+readLogData", "etl.open")(
            ("readSongData", "etl.open", () => { SparkifyEtl.readSongData(spark, data); () }),
            ("readLogData", "etl.open", () => { SparkifyEtl.readLogData(spark, data); () })))
        // a refresh is a fresh batch job: drop the previous refresh's
        // cached source frames, which would otherwise serve this one
        val refresh: Seq[() => Unit] = Seq(
          () => {
            spark.catalog.clearCache()
            op("etl", "processSongData", "etl.song_side")(
              ("processSongData", "etl.song_side", () => SparkifyEtl.processSongData(spark, data, etlOut)))
          },
          () => op("etl", "processLogData", "etl.log_side")(
            ("processLogData", "etl.log_side", () => SparkifyEtl.processLogData(spark, data, etlOut))))
        val queries = readme.map { case (n, q) => () => {
          var df: DataFrame = null
          op("query", n, "etl.readme")(
            (n, "etl.readme.build", () => df = q()),
            ("noop", "etl.readme.exec", () => noop(df)))
        }}
        opens ++ refresh ++ queries
      case _ =>
        val order = new scala.util.Random(seed * 7919 + p).shuffle(queryFns)
        val loads: () => Unit = () => op("tables", "Tables.*", "tables")(
          tableLoaders.map { case (t, f) => (s"Tables.$t", "tables", () => { f(spark, data); () }) }: _*)
        loads +: order.map { case (n, module, fn) => () => {
          var df: DataFrame = null
          // the first untimed pass writes each answer for the output checks
          val sink: () => Unit =
            if (phase == "warm" && warmPass == 1) () => df.write.mode("overwrite").parquet(s"$work/check/$n")
            else () => noop(df)
          op("query", n, module)(
            (n, s"$module.build", () => df = fn(spark, data)),
            ("sink", s"$module.exec", sink))
        }}
    }

    def runPass(): Unit = {
      val ps = if (tracing) tracer.open(root.id, s"pass $pass", if (phase == "warm") "warmup" else "pass") else null
      passSpan = if (ps != null) ps.id else 0
      passOps(pass).foreach(_())
      if (ps != null) tracer.close(ps)
    }

    // ---- set-up: untimed passes ----------------------------------------
    // One pass builds the artifacts and writes the answers; op times keep
    // falling for several more passes while the JIT compiles the engine,
    // so set-up runs `warm` passes before timing starts.
    setTracing(trace)
    val c0 = compiles; val cm0 = compileMs
    while (warmPass < warmPasses) { warmPass += 1; runPass() }
    val setupCompiles = compiles - c0
    val setupCompileMs = compileMs - cm0
    val buildsSetup = builtMarkers(scratchRoot)
    def etlFiles(): (Int, Long) = {
      val fs = walk(new File(etlOut)).filter(_.getName.endsWith(".parquet"))
      (fs.size, fs.map(_.length).sum)
    }

    // ---- timed passes ---------------------------------------------------
    phase = "timed"
    val firstTimedMs = System.currentTimeMillis().toDouble
    val setupS = (firstTimedMs - jvmStartMs) / 1000.0
    val tStart = System.nanoTime()
    val limit = tStart + (seconds * 1e9).toLong
    // whole passes only, so every query of the list has the same weight;
    // a traced run alternates traced and untraced passes (at least one
    // of each), which measures the tracing overhead inside one JVM
    while (System.nanoTime() < limit || (trace && pass < 2)) {
      pass += 1
      if (trace) setTracing(pass % 2 == 1)
      runPass()
    }
    val timedS = (System.nanoTime() - tStart) / 1e9
    val peakRssMb = vmHwmMb
    // heap the workload keeps live: used heap after full collections,
    // repeated until it settles (the context cleaner frees the blocks of
    // collected broadcasts and shuffles asynchronously)
    def heapUsedMb: Double = { System.gc(); Thread.sleep(250); System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prevMb = Double.MaxValue
    var heapRetainedMb = heapUsedMb
    var tries = 0
    while (tries < 10 && math.abs(prevMb - heapRetainedMb) > 0.5) {
      prevMb = heapRetainedMb; heapRetainedMb = heapUsedMb; tries += 1
    }
    val buildsTimed = builtMarkers(scratchRoot) - buildsSetup
    val scratchBytes = walk(new File(scratchRoot)).map(_.length).sum
    val etlLast = if (workload == "sparkify_etl") etlFiles() else (0, 0L)
    setTracing(false)
    root.end = tracer.nowMs
    tracer.attributePhases()

    // ---- untimed output dumps for the checks ----------------------------
    val checkErrors = mutable.LinkedHashMap.empty[String, String]
    val checks = new mutable.ArrayBuffer[(String, String)]
    def fence(name: String)(body: => Unit): Unit =
      try body catch { case NonFatal(e) =>
        checkErrors(name) = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300)
      }
    if (workload == "sparkify_etl") {
      fence("rows") {
        checks += "rows" -> Json.obj(Seq("songs", "artists", "users", "time", "songplays")
          .map(t => t -> tbl(t).count().toString))
      }
      readme.foreach { case (n, q) =>
        fence(n) {
          val rows = q().collect().toSeq.map(r => Json.arr(r.toSeq.map {
            case null => "null"
            case x: Number => x.toString
            case x => Json.str(x.toString)
          }))
          checks += n -> Json.arr(rows)
        }
      }
    } else {
      val oracle = graft.SparkEntry.oracleSql
      checks += "oracle_sql" -> Json.obj(queryNames.flatMap(n => oracle.get(n).map(s => n -> Json.str(s))))
    }

    // ---- result ---------------------------------------------------------
    def opJson(o: Op): String = Json.obj(Seq(
      "pass" -> o.pass.toString, "phase" -> Json.str(o.phase), "traced" -> o.traced.toString,
      "kind" -> Json.str(o.kind), "name" -> Json.str(o.name), "layer" -> Json.str(o.layer),
      "wall_ms" -> Json.num(o.wallMs), "build_ms" -> Json.num(o.buildMs), "exec_ms" -> Json.num(o.execMs),
      "ok" -> o.ok.toString, "err" -> Json.str(o.err), "compiles" -> o.compiles.toString,
      "compile_ms" -> Json.num(o.compileMs), "gc_ms" -> Json.num(o.gcMs),
      "new_builds" -> o.newBuilds.toString, "span" -> o.span.toString))
    val workJson = ops.filter(_.span > 0).map { o =>
      // the op's own span and its part spans carry the work
      val ws = (o.span +: o.parts).flatMap(tracer.workFor)
      def sumL(f: SpanWork => Long) = ws.map(f).sum
      def sumD(f: SpanWork => Double) = ws.map(f).sum
      o.span.toString -> Json.obj(Seq(
        "jobs" -> sumL(_.jobs).toString, "stages" -> sumL(_.stages).toString, "tasks" -> sumL(_.tasks).toString,
        "run_ms" -> sumL(_.runMs).toString, "cpu_ms" -> Json.num(sumL(_.cpuNs) / 1e6),
        "bytes_read" -> sumL(_.bytesRead).toString, "records_read" -> sumL(_.recordsRead).toString,
        "shuffle_write" -> sumL(_.shuffleWrite).toString, "shuffle_read" -> sumL(_.shuffleRead).toString,
        "fetch_wait_ms" -> sumL(_.fetchWaitMs).toString, "spill_disk" -> sumL(_.spillDisk).toString,
        "task_union_ms" -> sumL(_.taskUnionMs).toString,
        "analysis_ms" -> Json.num(sumD(_.analysisMs)), "optimization_ms" -> Json.num(sumD(_.optimizationMs)),
        "planning_ms" -> Json.num(sumD(_.planningMs))))
    }
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "trace" -> trace.toString,
      "cores" -> cpus, "setup_s" -> Json.num(setupS), "timed_s" -> Json.num(timedS),
      "peak_rss_mb" -> Json.num(peakRssMb), "heap_retained_mb" -> Json.num(heapRetainedMb),
      "setup_compiles" -> setupCompiles.toString,
      "setup_compile_ms" -> Json.num(setupCompileMs), "builds_setup" -> buildsSetup.toString,
      "builds_timed" -> buildsTimed.toString, "scratch_bytes" -> scratchBytes.toString,
      "etl_files" -> etlLast._1.toString, "etl_bytes" -> etlLast._2.toString,
      "queries" -> Json.arr(queryNames.map(Json.str)),
      "ops" -> Json.arr(ops.toSeq.map(opJson)),
      "work" -> Json.obj(workJson.toSeq),
      "checks" -> Json.obj(checks.toSeq),
      "check_errors" -> Json.obj(checkErrors.toSeq.map { case (k, v) => k -> Json.str(v) })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/result.json"), result)
    if (trace) java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/spans.json"), tracer.spansJson)
    spark.stop()
  }
}
