package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The benchmark's engine process: one workload, one seed, one run.
  *
  *   java ... perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --tables <dir> --queries <q,...> --result <file>
  *     --spans <file> --launch-ms <epoch ms>
  *
  * Runs in its own empty working directory (fixtures, catalog root,
  * landing, warehouse and checkpoints all land there). Sets up, runs the
  * cold pass, then runs ops pass by pass until `--seconds` have passed and
  * at least two passes are whole, and writes every sample to the result
  * file as JSON. With
  * `--trace 1` passes alternate traced and untraced, so the same run gives
  * the per-layer numbers (from traced passes) and the tracing overhead.
  */
object Main {
  final case class Sample(pass: Int, name: String, wallS: Double, cpuS: Double,
                          error: Option[String], traced: Boolean, opSpan: Long)

  val Cores = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = opt("launch-ms").toDouble
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(sys.props("user.dir")).toAbsolutePath
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - launchMs) / 1000.0}%.2f s: $what")
    mark("jvm up")
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mark("session up")
    if (trace) Trace.install(spark)

    val w: Workload = opt("workload") match {
      case "streamflow_pipeline" => new Pipeline(spark, seed, work)
      case "query_mix" => new QueryMix("query_mix", spark,
        opt("queries").split(",").toSeq, opt("tables"), seed, work.resolve("check"))
      case other => sys.error(s"unknown workload $other")
    }

    // ops of the cold pass (part of set-up): name, wall
    val coldErrors = mutable.ArrayBuffer.empty[(String, String)]
    val coldOps = mutable.ArrayBuffer.empty[(String, Double)]
    def describe(t: Throwable) = s"${t.getClass.getSimpleName}: ${t.getMessage}".take(400)
    val sessionMs = System.currentTimeMillis()
    mark("workload ready")
    w.setup()
    val c0 = System.nanoTime()
    val fixturesS = math.max(0L, c0 - Trace.epochNs(sessionMs)) / 1e9
    w.coldPass { (n, err, wall) =>
      coldOps += (n -> wall)
      if (err != null) { coldErrors += (n -> describe(err)); err.printStackTrace() }
    }
    val coldS = (System.nanoTime() - c0) / 1e9
    mark("cold pass done")
    val readyMs = System.currentTimeMillis()

    // ---- the timed window
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passWalls = mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
    val (tot0, steal0, busy0) = Host.cpu(); val self0 = Host.selfCpu()
    val w0 = System.nanoTime()
    // ops stop once the window is over, but never before two whole passes
    var pass = 0
    def elapsed = (System.nanoTime() - w0) / 1e9
    while (elapsed < seconds || passWalls.size < 2) {
      // traced runs alternate traced and untraced passes
      val traced = trace && pass % 2 == 0
      Trace.on = traced
      w.startPass(pass)
      var opTime = 0.0
      var i = 0
      while (i < w.opsPerPass && (elapsed < seconds || passWalls.size < 2)) {
        val name = w.opName(i)
        var span = 0L
        val cpu0 = Host.processCpuNs()
        val t0 = System.nanoTime()
        val err = try {
          Trace.span("op") { if (traced) span = Trace.context._1; w.runOp(i) }
          None
        } catch { case t: Throwable => t.printStackTrace(); Some(describe(t)) }
        val dt = (System.nanoTime() - t0) / 1e9
        opTime += dt
        samples += Sample(pass, name, dt, (Host.processCpuNs() - cpu0) / 1e9, err, traced, span)
        w.afterOp()
        i += 1
      }
      if (i == w.opsPerPass) passWalls += ((pass, opTime, traced))
      pass += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val (tot1, steal1, busy1) = Host.cpu(); val self1 = Host.selfCpu()
    Trace.on = false

    val checks = w.writeCheckInputs(work.resolve("check"))
    if (trace) Trace.drain()
    val dTot = math.max(1L, tot1 - tot0).toDouble
    val host = Map(
      "steal_share" -> (steal1 - steal0) / dTot,
      "other_cpu_share" -> math.max(0L, (busy1 - busy0) - (self1 - self0)) / dTot,
      "cores" -> Cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    val layers = if (trace) Layers.compute(w, samples.toSeq, host) else Map.empty[String, Double]
    if (trace) opt.get("spans").foreach(p => Trace.writeSpans(Paths.get(p)))

    val result = Json.obj(Seq(
      "workload" -> w.name,
      "seed" -> seed,
      "trace" -> trace,
      "setup_s" -> (readyMs - launchMs) / 1000.0,
      "cold_s" -> coldS,
      "session_s" -> (sessionMs - launchMs) / 1000.0,
      "fixtures_s" -> fixturesS,
      "cold_ops" -> coldOps.map { case (n, s) => Map("name" -> n, "wall_s" -> s) },
      "cold_errors" -> coldErrors.map { case (n, e) => Map("op" -> n, "error" -> e) },
      "window_s" -> windowS,
      "passes" -> passWalls.map { case (p, s, t) => Map("pass" -> p, "wall_s" -> s, "traced" -> t) },
      "samples" -> samples.map(s => Map("pass" -> s.pass, "name" -> s.name, "wall_s" -> s.wallS,
        "cpu_s" -> s.cpuS,
        "error" -> s.error, "traced" -> s.traced)),
      "peak_rss_mb" -> Host.statusKb("VmHWM") / 1024.0,
      "host" -> host,
      "layers" -> layers,
      "checks" -> checks))
    Files.write(Paths.get(opt("result")), result.getBytes("UTF-8"))
    spark.stop()
  }
}
