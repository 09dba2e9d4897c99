package perfbench

import graft.gold.Incremental
import graft.ingest.Landing
import graft.jobs.{EtlJob, Orchestration}
import graft.schemas.Schemas
import graft.silver.MergeUpsert
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import scala.collection.mutable

/** `streamflow_pipeline`: one client drives StreamFlow micro-batches one
  * after another, the way an Airflow DAG waits for each run. A batch is
  * timed from its landing files being complete to both star MVs being
  * read back, and runs through `Orchestration.runReport` as the
  * reference task chain (two ingest legs, `etl_job`, `validate_outputs`)
  * extended by the Phase-2 steps: silver MERGE, additive gold refresh,
  * fact INSERT and late-customer dimension MERGE through the graft
  * catalog, two MV refreshes, two MV readouts. Tasks get no retries, so
  * a failing step fails its batch instead of hiding behind a retry.
  */
final class Pipeline(spark: SparkSession, seed: Long, work: Path) extends Workload {
  private val gen = new LandingGen(seed)
  private val landing = work.resolve("landing")
  private val gold = work.resolve("gold")
  private val silverDir = work.resolve("silver/user_events").toString
  private val dailyDir = work.resolve("gold_daily/net_revenue").toString
  private val generated = mutable.Map.empty[Int, BatchCounts]
  private val etlRows = mutable.Map.empty[Int, Map[String, Long]]
  val mvModes = mutable.ArrayBuffer.empty[(String, String)]
  private var lastReadout = Map.empty[String, Seq[String]]
  private var next = 1

  val name = "streamflow_pipeline"
  def opsPerPass: Int = 1
  /** Landed user-event bytes per batch: the silver MERGE's delta. */
  val deltaBytes = mutable.Map.empty[Int, Long]

  private def batchDir(k: Int) = landing.resolve(f"batch_$k%04d")

  def setup(): Unit = {
    Files.createDirectories(landing)
    spark.conf.set("spark.sql.catalog.wh", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.wh.root", work.resolve("warehouse").toString)
    gen.writeInitialCustomers(landing.resolve("customers_initial.json"))
    customers(landing.resolve("customers_initial.json")).createOrReplaceTempView("dim_customer_initial")
    spark.sql("CREATE TABLE wh.dim_customer AS SELECT * FROM dim_customer_initial")
    spark.sql(
      """CREATE TABLE wh.fact_line_items (transaction_id STRING, line_no BIGINT,
        |  user_id STRING, ts TIMESTAMP, transaction_type STRING, status STRING,
        |  category STRING, product_id STRING, quantity BIGINT, amount DECIMAL(18,2))""".stripMargin)
    spark.sql("CALL wh.create_materialized_view('mv_revenue_by_category', " +
      "'SELECT category, count(*) AS n_items, SUM(amount) AS revenue " +
      "FROM wh.fact_line_items GROUP BY category', or_replace => true)")
    // the star MV the way an analyst writes it: qualified join keys
    spark.sql("CALL wh.create_materialized_view('mv_revenue_by_account_type', " +
      "'SELECT COALESCE(c.account_type, ''unknown'') AS account_type, count(*) AS n_items, " +
      "SUM(f.amount) AS revenue FROM wh.fact_line_items f " +
      "LEFT JOIN wh.dim_customer c ON f.user_id = c.user_id " +
      "GROUP BY COALESCE(c.account_type, ''unknown'')', or_replace => true)")
    prepare()
  }

  /** The graft table format stores integers as BIGINT. */
  private def customers(file: Path): DataFrame = Trace.span("ingest.read") {
    Landing.readJsonl(spark, file.toString, Schemas.customers)
      .withColumn("loyalty_points", col("loyalty_points").cast("bigint"))
  }

  /** Untimed: write the next batch's landing files. */
  private def prepare(): Unit = {
    generated(next) = gen.writeBatch(batchDir(next), next)
    deltaBytes(next) = graft.util.Fs.listClosed(batchDir(next))
      .filter(_.getFileName.toString.startsWith("user_events")).map(Files.size).sum
  }

  def coldPass(record: (String, Throwable, Double) => Unit): Unit = {
    val t0 = System.nanoTime()
    val err = try { Trace.span("op")(runOp(0)); null } catch { case t: Throwable => t }
    record("batch", err, (System.nanoTime() - t0) / 1e9)
    afterOp()
  }

  private def userEvents(k: Int): DataFrame = Trace.span("ingest.read") {
    Landing.readJsonl(spark, Landing.entityGlob(batchDir(k).toString, "user_events"),
      Schemas.userEvents.add("version", IntegerType))
  }

  private def transactions(k: Int): DataFrame = Trace.span("ingest.read") {
    Landing.readJsonl(spark, Landing.entityGlob(batchDir(k).toString, "transaction_events"),
      Schemas.transactionEvents)
  }

  /** The batch's DAG: reference chain + Phase-2 steps, strictly chained. */
  private def dag(k: Int): Seq[Orchestration.Task] = {
    val ctx = Trace.context
    def step(layer: String)(body: => Unit): () => Unit =
      () => Trace.within(ctx)(Trace.span(layer)(body))
    val landed = batchDir(k).toString
    val goldDir = gold.resolve(f"batch_$k%04d").toString
    def requireLanded(entity: String): Unit = {
      val n = graft.util.Fs.listClosed(batchDir(k)).count(_.getFileName.toString.startsWith(entity))
      require(n > 0, s"no $entity files landed for batch $k")
    }
    val reference = Orchestration.streamflowDag(
      ingestUserEvents = step("jobs.ingest_user_events")(requireLanded("user_events")),
      ingestTransactionEvents = step("jobs.ingest_transaction_events")(requireLanded("transaction_events")),
      etlJob = step("jobs.etl_job") { etlRows(k) = EtlJob.run(spark, landed, goldDir) },
      validateOutputs = step("jobs.validate_outputs")(EtlJob.validateOutputs(goldDir)),
      retryDelayMs = 0L).map(t => t.copy(retries = 0)(t.body))
    val phase2 = Seq[(String, () => Unit)](
      ("merge_silver", step("silver.merge") {
        val delta = userEvents(k)
          .select(col("event_id"), col("user_id"), col("session_id"), col("event_type"),
            to_timestamp(col("timestamp")).as("ts"), col("page"), col("device"),
            col("country"), col("version"))
          .withColumn("event_date", to_date(col("ts")))
        MergeUpsert.merge(silverDir, delta, Seq("event_id"), "version", "event_date")
      }),
      ("build_gold", step("gold.refresh") {
        val tx = transactions(k).filter(col("status") === "completed")
          .select(to_timestamp(col("timestamp")).as("ts"),
            col("transaction_type").as("event_type"), col("total").as("value"))
        Incremental.refreshAdditive(dailyDir, Incremental.toGoldGrain(tx), f"b$k%04d")
      }),
      ("load_fact", step("sources.dml") {
        transactions(k).select(col("*"), posexplode(col("line_items")).as(Seq("line_no", "item")))
          .select(col("transaction_id"), col("line_no").cast("bigint"), col("user_id"),
            to_timestamp(col("timestamp")).as("ts"), col("transaction_type"), col("status"),
            col("item.category").as("category"), col("item.product_id").as("product_id"),
            col("item.quantity").cast("bigint").as("quantity"),
            (col("item.quantity").cast("decimal(18,2)") * col("item.unit_price").cast("decimal(18,2)") *
              when(col("transaction_type") === "purchase", 1).otherwise(-1))
              .cast("decimal(18,2)").as("amount"))
          .createOrReplaceTempView("fact_delta")
        spark.sql("INSERT INTO wh.fact_line_items SELECT * FROM fact_delta")
      }),
      ("merge_dim_customer", step("sources.dml") {
        customers(batchDir(k).resolve(f"customers_b$k%04d.json")).createOrReplaceTempView("customer_delta")
        spark.sql(
          """MERGE INTO wh.dim_customer t USING customer_delta s ON t.user_id = s.user_id
            |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }),
      ("refresh_mvs", step("plans.mv_refresh") {
        Seq("mv_revenue_by_category", "mv_revenue_by_account_type").foreach { mv =>
          val row = spark.sql(s"CALL wh.refresh_materialized_view('$mv')").collect().head
          mvModes.synchronized(mvModes += ((mv, row.getAs[String]("mode"))))
        }
      }),
      ("read_mvs", step("plans.readout") {
        lastReadout = Seq("mv_revenue_by_category", "mv_revenue_by_account_type").map { mv =>
          mv -> spark.table(s"wh.$mv").collect().map(_.mkString("\t")).toSeq.sorted
        }.toMap
      }))
    var upstream = "validate_outputs"
    reference ++ phase2.map { case (id, body) =>
      val t = Orchestration.Task(id, upstream = Seq(upstream), retries = 0, retryDelayMs = 0L)(body)
      upstream = id
      t
    }
  }

  def runOp(i: Int): Unit = {
    val k = next
    val report = Trace.span("jobs.dag")(Orchestration.runReport(dag(k)))
    next += 1
    val failed = report.status.collect {
      case (id, Orchestration.Failed(_, e)) => s"$id: ${e.getClass.getSimpleName}: ${e.getMessage}"
      case (id, Orchestration.UpstreamFailed) => s"$id: upstream failed"
    }
    if (failed.nonEmpty) throw new RuntimeException(s"batch $k: " + failed.mkString("; "))
  }

  override def afterOp(): Unit = prepare()

  def opName(i: Int): String = "batch"

  /** Everything the output checks need, as files under `out`. */
  def writeCheckInputs(out: Path): Map[String, Any] = {
    Files.createDirectories(out)
    lastReadout.foreach { case (mv, rows) =>
      Files.write(out.resolve(s"$mv.tsv"), rows.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    Map(
      "results" -> out.toString,
      "landing" -> landing.toString,
      "gold" -> gold.toString,
      "silver" -> silverDir,
      "gold_daily" -> dailyDir,
      "batches" -> etlRows.keys.toSeq.sorted.map { k => Map(
        "batch" -> k, "events" -> generated(k).events, "line_items" -> generated(k).lineItems,
        "etl_user_events" -> etlRows(k).getOrElse("user_events", -1L),
        "etl_transaction" -> etlRows(k).getOrElse("transaction", -1L)) },
      "mv_modes" -> mvModes.map { case (mv, m) => Map("mv" -> mv, "mode" -> m) },
      "items_per_batch" -> (LandingGen.EventsPerBatch + LandingGen.TxPerBatch),
      "fact_rows" -> spark.sql("SELECT count(*) FROM wh.fact_line_items").collect().head.getLong(0),
      // data files of the fact table (the manifest and sidecars start with _)
      "fact_files" -> graft.util.Fs.walkClosed(work.resolve("warehouse/fact_line_items"))
        .count(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith(".")))
  }
}
