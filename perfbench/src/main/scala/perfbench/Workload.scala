package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** One benchmark workload: a closed loop of ops, grouped in passes. */
trait Workload {
  def name: String
  /** Fixtures; runs before the cold pass. */
  def setup(): Unit
  /** The first execution of every op in the fresh JVM; part of set-up. */
  def coldPass(record: (String, Throwable, Double) => Unit): Unit
  def opsPerPass: Int
  def startPass(pass: Int): Unit = ()
  def opName(i: Int): String
  def runOp(i: Int): Unit
  /** Untimed work between ops (the pipeline lands its next batch here). */
  def afterOp(): Unit = ()
  /** Files and facts the output checks need. */
  def writeCheckInputs(out: Path): Map[String, Any]
}

/** `query_mix`: one analyst session over registered queries (star and
  * events dashboard reads plus stream replays). Each op builds one query
  * and executes it into a `noop` sink, as Bench does; every pass runs the
  * whole mix in a seeded order. The cold pass writes each result as
  * Parquet instead, for the oracle check. */
final class QueryMix(val name: String, spark: SparkSession, queries: Seq[String],
                     dataDir: String, seed: Long, checkDir: Path) extends Workload {
  private val fns = graft.SparkEntry.queries
  private var order = queries
  require(queries.forall(fns.contains),
    s"unregistered queries: ${queries.filterNot(fns.contains).mkString(",")}")

  def setup(): Unit = Files.createDirectories(checkDir)

  def coldPass(record: (String, Throwable, Double) => Unit): Unit = queries.foreach { q =>
    val t0 = System.nanoTime()
    val err = try {
      Trace.span("op") {
        val df = Trace.span("query.build")(fns(q)(spark, dataDir))
        Trace.span("query.exec")(df.coalesce(1).write.mode("overwrite")
          .parquet(checkDir.resolve(q).toString))
      }
      null
    } catch { case t: Throwable => t }
    record(q, err, (System.nanoTime() - t0) / 1e9)
  }

  def opsPerPass: Int = queries.size
  override def startPass(pass: Int): Unit =
    order = new scala.util.Random(LandingGen.rng(seed, -2L, pass.toLong)).shuffle(queries)
  def opName(i: Int): String = order(i)
  def runOp(i: Int): Unit = {
    val df = Trace.span("query.build")(fns(order(i))(spark, dataDir))
    Trace.span("query.exec")(df.write.format("noop").mode("overwrite").save())
  }

  def writeCheckInputs(out: Path): Map[String, Any] = {
    val oracles = graft.SparkEntry.oracleSql
    Map("results" -> checkDir.toString, "tables" -> dataDir,
      "oracle" -> queries.flatMap(q => oracles.get(q).map(q -> _)).toMap)
  }
}
