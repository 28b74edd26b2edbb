package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.jobs.{BudgetPipeline, SyncTransactions}
import graft.operators.{Contracts, Flatten, IncrementalMerge}
import graft.sources.Synthetic
import graft.streaming.Streams

/** The paper's batch sync, run once per month. Set-up lands the seeded
  * source tables and backfills the published transactions table through
  * month `history`; each op then syncs the next month: extract the last
  * two months of nested transactions, flatten and scrub them, merge them
  * over the published table, publish and advance the control row, then
  * rewrite the accounts and budgets outputs in full. After `span` months
  * the published state is restored to the backfill, so every run times
  * the same table sizes however many ops fit in its time. The sync of a
  * month runs on a replayed clock, at the start of the next month: its
  * load stamps are a function of the month, so the bytes each run
  * publishes repeat exactly. */
final class TxnSync(ctx: Ctx) extends Workload {
  import ctx.spark

  private val nOrders = if (ctx.smoke) 3000L else 150000L
  private val nCustomers = nOrders / 10
  private val inputs = new Inputs(spark, ctx.seed)
  private val history = 72
  private val span = inputs.months - history
  /** Months each sync run re-extracts. Fixed, not drawn from the seed:
    * rows per run scale with it, and a seed-drawn lookback would make the
    * work itself differ from seed to seed. */
  private val lookback = 2

  val counterWindow = 2
  // set-up already runs a sync; only the output rewrites are left cold
  def warmup(): Unit = accountsAndBudgets(history)

  private def src(t: String) = spark.read.parquet(ctx.path(s"input/$t"))
  private val published = ctx.path("out/transactions")
  private val control = ctx.path("out/control")
  private def date(m: Int) = inputs.monthStart(m).toString

  private var setups = 0
  private var synced = history // months published so far
  /** Orders per month (keyed "yyyy-MM"), counted at set-up: the rows each
    * sync run lands, without a counting job in the timed loop. */
  private var monthRows = Map.empty[String, Long]
  private def rows(lo: Int, hi: Int): Long =
    (lo until hi).map(m => monthRows.getOrElse(date(m).take(7), 0L)).sum

  private def window(lo: Int, hi: Int): DataFrame = src("orders").filter(
    col("o_orderdate") >= lit(date(lo)).cast("timestamp") &&
      col("o_orderdate") < lit(date(hi)).cast("timestamp"))

  private def dim = Synthetic.accountsDim(src("customer"))

  /** The replayed clock's stamp for the sync that ends before month `m`,
    * in one fixed width. */
  private def stamp(m: Int): String =
    TxnSync.StampFormat.format(inputs.monthStart(m).atStartOfDay(ZoneOffset.UTC))

  /** One run of the sync over [lo, hi), composed as the library composes
    * it; only a traced run stages the layers' outputs (`Ctx.stage`). */
  private def syncRun(lo: Int, hi: Int, batchId: Long): Unit = {
    val t = ctx.tracer
    val nested = t.span("sources.extract")(
      ctx.stage(Synthetic.nestedTransactions(window(lo, hi))))
    val flat = t.span("jobs.flatten_batch")(
      ctx.stage(SyncTransactions.flattenBatch(nested, dim)))
    t.span("streaming.merge_publish") {
      val batch = Contracts.transactions(
        flat.withColumn("loadedAtUtc", lit(stamp(hi))))
      Streams.foreachBatchMerge(published, control, "date", _ => date(lo))(
        batch, batchId)
    }
    ctx.release(nested, flat)
  }

  private def accounts: DataFrame =
    Contracts.accounts(Flatten.sheetCells(Flatten.account(
      Synthetic.nestedAccounts(src("customer"), src("nation")))))

  /** Both outputs rewritten in full, as the paper's run rewrites its
    * sheets. */
  private def accountsAndBudgets(m: Int): Unit = {
    val t = ctx.tracer
    t.span("operators.accounts_contract")(
      accounts.write.mode("overwrite").parquet(ctx.path("out/accounts")))
    t.span("jobs.budget_records")(budgets(stamp(m))
      .write.mode("overwrite").parquet(ctx.path("out/budgets")))
  }

  private def budgets(loadedAt: String): DataFrame = {
    val (n, r) = (src("nation"), src("region"))
    BudgetPipeline.records(
      Synthetic.Budget.byCategory(n), Synthetic.Budget.byGroup(r),
      Synthetic.Budget.flex(spark), Synthetic.Budget.totals(spark),
      Synthetic.Budget.categoriesDim(n), Synthetic.Budget.groupsDim(r),
      loadedAt)
  }

  def setup(): Unit = {
    setups += 1
    ctx.deleteTree("input")
    ctx.deleteTree("out")
    ctx.deleteTree("backfill")
    inputs.orders(nOrders, nCustomers).write.parquet(ctx.path("input/orders"))
    inputs.customer(nCustomers).write.parquet(ctx.path("input/customer"))
    inputs.nation().write.parquet(ctx.path("input/nation"))
    inputs.region().write.parquet(ctx.path("input/region"))
    monthRows = src("orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    syncRun(0, history, batchId = 0)
    // the backfilled state every wrap of the timed months restarts from
    copyTree("out", "backfill")
    synced = history
  }

  private def copyTree(from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(ctx.path(from))
    val fs = src.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
      new org.apache.hadoop.fs.Path(ctx.path(to)), false, true, conf)
  }

  private var loopStart: Instant = Instant.MAX

  def op(i: Int): Op = {
    val j = i % span
    if (synced != history + j) {
      ctx.deleteTree("out")
      copyTree("backfill", "out")
    }
    if (i == 0) loopStart = Instant.now()
    val m = history + j
    val t0 = System.nanoTime()
    syncRun(m + 1 - lookback, m + 1, batchId = setups * 1000L + i + 1)
    accountsAndBudgets(m + 1)
    val op = Op((System.nanoTime() - t0) / 1e9, rows(m + 1 - lookback, m + 1))
    synced = m + 1
    op
  }

  def check(ops: IndexedSeq[Op]): Int = {
    // the published table equals one flatten + contract over every month
    // synced so far; loadedAtUtc is a per-run stamp and the merchant count
    // is denormalized per extracted batch, so both are left out
    val unstable = Set("loadedAtUtc", "MrchntTranCount")
    val expected = Digest(Contracts.transactions(
      SyncTransactions.flattenBatch(
        Synthetic.nestedTransactions(window(0, synced)), dim)
        .withColumn("loadedAtUtc", lit(""))), unstable)
    val actual = Digest(spark.read.parquet(published), unstable)
    val watermark = new IncrementalMerge.ControlTable(spark, control).read()
    val accountsOk =
      Digest(spark.read.parquet(ctx.path("out/accounts"))) == Digest(accounts)
    val budgetsOk = Digest(spark.read.parquet(ctx.path("out/budgets")),
      Set("LoadedAtUtc")) ==
      Digest(budgets(""), Set("LoadedAtUtc"))
    val ok = expected == actual && watermark.exists(!_.isBefore(loopStart)) &&
      accountsOk && budgetsOk
    if (!ok) System.err.println(s"[perfbench] txn_sync check failed: " +
      s"published $actual vs $expected, watermark $watermark, " +
      s"accounts ok $accountsOk, budgets ok $budgetsOk")
    if (ok) 0 else ops.size
  }

  def details: Map[String, Any] = Map(
    "orders" -> nOrders, "customers" -> nCustomers,
    "history_months" -> history, "timed_months" -> span,
    "lookback_months" -> lookback)

  def layers(t: TraceView, ops: IndexedSeq[Op]): Map[String, Double] = Map(
    "sources.extract_s" -> t.seconds("sources.extract"),
    "sources.extract_rows" ->
      Stats.median(ops.take(counterWindow).map(_.items.toDouble)),
    "jobs.flatten_batch_s" -> t.seconds("jobs.flatten_batch"),
    "jobs.flatten_batch_jobs" -> t.jobs("jobs.flatten_batch"),
    "streaming.merge_publish_s" -> t.seconds("streaming.merge_publish"),
    "streaming.merge_publish_jobs" -> t.jobs("streaming.merge_publish"),
    "streaming.published_bytes" -> t.counter("streaming.merge_publish")(_.outputBytes),
    "jobs.budget_records_s" -> t.seconds("jobs.budget_records"),
    "operators.accounts_contract_s" -> t.seconds("operators.accounts_contract"))
}

object TxnSync {
  val StampFormat: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
}
