package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{CacheScope, SparkEntry, Tables}
import graft.checks.Checks
import graft.operators.{Balances, GapFill, Profits}
import graft.sources.Publish

import Main.{closedLoop, materialize}
import Trace.span

/** The reference's flagship chain: transfers → balances and exclusions
  * → market data → wallet profits → whale chart → reconciliation →
  * publish. Each step's sink is one registry query's semantics, so
  * run.py checks every published sink against DuckDB running that
  * query's `SparkEntry.oracleSql`. */
final class WalletRebuild(input: String, work: String) extends Workload {
  val Sinks = Seq("q2_dedupe_rank", "q3_running_balance", "q4_gap_fill",
    "q5_dip_removal", "q6_exclusion_antijoin", "q7_negative_balance_cohort",
    "q8_whale_buckets", "q10_wallet_profits", "q77_profit_reconciliation")
  private def root(sink: String) = s"$work/published/$sink"
  private var violations = 0L
  private var commits = 0

  /** The inputs' footers and pages, read once per fresh session. */
  def prepare(spark: SparkSession, cycle: Int): Unit =
    Tables.events(spark, input).count(): Unit

  def warmup(spark: SparkSession): Unit = runOnce(spark)

  def measure(spark: SparkSession, budgetS: Double, minRuns: Int): Phase = {
    commits = 0
    val (runs, failed) = closedLoop(budgetS, minRuns)(_ => runOnce(spark))
    val n = math.max(1, runs.size)
    Phase(runs, runs.size + failed, failed,
      Map("sources.commits" -> commits.toDouble / n))
  }

  /** The whale chart's gap-fill expansion: dense rows per transfer row. */
  override def traceExtra(spark: SparkSession, ls: Listeners): Map[String, Double] = {
    val tb = Tables.transfersWithBalance(spark, input).select("asset", "wallet", "date", "balance")
    val dense = GapFill.fillDaily(tb, Seq("asset", "wallet"), "date",
      ffillCols = Seq("balance"), zeroCols = Seq.empty)
    Map(
      "operators.whale.expand_ratio" -> dense.count().toDouble / tb.count(),
      "checks.violations" -> violations.toDouble,
      "sources.live_bytes" -> Sinks.map(s => liveBytes(root(s))).sum.toDouble)
  }

  private def publish(df: DataFrame, root: String): Long = {
    commits += 1
    Publish.publish(df, root)
  }

  /** Data bytes of the live version at `root`. */
  private def liveBytes(root: String): Long =
    Publish.currentVersion(root).map { v =>
      Files.list(Paths.get(root, s"v=$v")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
    }.getOrElse(0L)

  /** Each step computes its sinks and publishes them: the write is
    * the action that runs the step's plan. Only the transfers every
    * later step reads are persisted. */
  private def runOnce(spark: SparkSession): Unit = {
    def out(sink: String, df: DataFrame): Unit = publish(df, root(sink)): Unit
    val tb = span("sources", "scan")(materialize(Tables.transfersWithBalance(spark, input)))
    span("sources", "publish") {
      out("q3_running_balance", tb.select(
        col("asset"), col("wallet"), col("date"),
        round(col("net_transfers"), 6).as("net_transfers"),
        round(col("balance"), 6).as("balance"),
        col("transfer_sequence")))
    }
    span("operators", "balances") {
      out("q6_exclusion_antijoin", SparkEntry.q6ExclusionAntijoin(spark, input))
      out("q7_negative_balance_cohort",
        Balances.negativeBalanceCohortFilter(tb, keyCol = "asset", walletCol = "wallet",
          balanceCol = "balance", tolerance = 0.1, maxNegativeShare = 0.6)
          .select(col("asset"), col("wallet"), col("date"),
            round(col("net_transfers"), 6).as("net_transfers"),
            round(col("balance"), 6).as("balance")))
    }
    span("operators", "market") {
      out("q2_dedupe_rank", SparkEntry.q2DedupeRank(spark, input))
      out("q5_dip_removal", SparkEntry.q5DipRemoval(spark, input))
      out("q4_gap_fill", SparkEntry.q4GapFill(spark, input))
    }
    span("operators", "profits") {
      out("q10_wallet_profits",
        Profits.walletProfits(tb.drop("transfer_sequence"), Tables.prices(spark, input)))
    }
    span("operators", "whale") {
      val dense = GapFill.fillDaily(tb.select("asset", "wallet", "date", "balance"),
        Seq("asset", "wallet"), "date", ffillCols = Seq("balance"), zeroCols = Seq.empty)
      out("q8_whale_buckets", Balances.whaleCounts(dense, "asset", "date",
        "balance", smallMax = 50.0, whaleMin = 300.0))
    }
    // reconciliation reads the published profits, as a downstream check would
    span("checks", "reconcile") {
      val w = Window.partitionBy("asset", "wallet").orderBy("date")
      val cwp = Publish.read(spark, root("q10_wallet_profits"))
        .withColumn("prev_usd", lag("usd_balance", 1).over(w))
      val expected = (col("prev_usd") + col("usd_net_transfers")) + col("profits_change")
      val viol = Checks.reconciles(cwp, "usd_balance", expected, tolAbs = 0.01, tolPct = 0.0001)
      out("q77_profit_reconciliation", cwp.groupBy("asset")
        .agg(count(lit(1)).as("n_rows"), count(col("prev_usd")).as("n_checked"))
        .join(viol.groupBy("asset").agg(count(lit(1)).as("__nv")), Seq("asset"), "left")
        .select(col("asset"), col("n_rows"), col("n_checked"),
          coalesce(col("__nv"), lit(0L)).as("n_violations")))
      violations = Publish.read(spark, root("q77_profit_reconciliation"))
        .agg(sum("n_violations")).head().getLong(0)
    }
    span("sources", "vacuum")(Sinks.foreach(s => Publish.vacuum(root(s), keep = 1)))
    span("CacheScope", "release")(CacheScope.releaseAll(spark))
  }

  def check(spark: SparkSession): Check =
    if (violations == 0) Check(1, 0, Nil)
    else Check(1, 1, Seq(s"q77 reconciliation flagged $violations rows"))

  /** run.py runs each sink's oracle over the same inputs. */
  override def report: Map[String, Any] = {
    val oracle = SparkEntry.oracleSql
    Map("sinks" -> Sinks.map { s =>
      s -> Map("sql" -> oracle(s),
        "dir" -> s"${root(s)}/v=${Publish.currentVersion(root(s)).getOrElse(0L)}")
    }.toMap)
  }
}
