package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.similarity.Dedup
import graft.sources.Publish
import graft.streaming.{AppendStream, ContextWindowStream, DriftAdmitStream,
  DriftStream, NearDupAdmitStream, TokenizerStream}

import Main.{closedLoop, median}
import Trace.span

final case class Doc(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)

/** The tables the admission stream commits to. */
final case class Roots(base: String) {
  val raw = s"$base/raw"
  val ndCorpus = s"$base/nd_corpus"
  val ndIndex = s"$base/nd_index"
  val ndQuar = s"$base/nd_quarantine"
  val stats = s"$base/drift_stats"
  val driftCorpus = s"$base/drift_corpus"
  val driftQuar = s"$base/drift_quarantine"
  val windows = s"$base/windows"
}

/** Streaming admission. One MemoryStream runs from the warm-up to the
  * check; one foreachBatch folds every micro-batch through the append,
  * near-dup, drift and context-window sinks in that order. The warm-up
  * offers the first `Backlog` documents, which are also the drift
  * gate's reference; each run after it offers the next `Backlog`
  * documents at once and waits until they are committed, so `run_s` is
  * the time to drain one backlog. Untraced and traced runs take
  * successive slices of the same document order.
  *
  * From row `Backlog` on gen.py makes source `DriftSource` alien
  * (its STREAM_DRIFT_FROM), so every run carries drift, and the drift
  * gate must quarantine exactly the rows of that source ingested after
  * the warm-up. */
final class StreamAdmit(input: String, work: String) extends Workload {
  val Backlog = 150
  val DriftSource = "src3"
  val AlertPpm = 150000L

  private var docs: Array[Doc] = Array.empty
  private var refRoot, tokRoot = ""
  private val roots = Roots(s"$work/stream")
  private var mem: MemoryStream[Doc] = _
  private var query: StreamingQuery = _
  /** Span the stream thread's batches nest under (0: none). */
  @volatile private var parent = 0L
  private val batches = new AtomicLong(0)
  /** Documents offered so far: always a prefix of `docs`. */
  private var offered = 0
  /** Ids offered by the last `measure`, and its completed runs. */
  private var phaseIds = Set.empty[Long]
  private var phaseRuns = 0

  def prepare(spark: SparkSession, cycle: Int): Unit = {
    val all = Tables.documents(spark, input)
    docs = all.orderBy("doc_id").collect().map(r => Doc(r.getLong(0), r.getString(1),
      r.getString(2), r.getString(3), r.getLong(4)))
    refRoot = s"$work/setup$cycle/ref"
    tokRoot = s"$work/setup$cycle/tok"
    val ref = all.where(col("doc_id") < Backlog)
    DriftStream.publishReference(ref, "text", buckets = 256, refRoot)
    TokenizerStream.publish(ref, "doc_id", "text", rounds = 2, tokRoot)
  }

  private def applyAll(rows: DataFrame, id: Long): Unit = {
    val r = roots
    span("streaming", "append")(AppendStream.applyBatch(rows, id, r.raw))
    span("streaming", "neardup")(NearDupAdmitStream.applyBatch(rows, id,
      r.ndCorpus, r.ndIndex, Some(r.ndQuar)))
    span("streaming", "drift")(DriftAdmitStream.applyBatch(rows, id, "text", "source",
      AlertPpm, refRoot, r.stats, r.driftCorpus, r.driftQuar))
    span("streaming", "ctxwin")(ContextWindowStream.applyBatch(rows, id, "doc_id", "text",
      tokRoot, r.windows, shards = 4, budget = 512L))
  }

  /** Offer the next `Backlog` documents at once and wait until the
    * stream has committed them. */
  private def drain(): Unit = {
    require(offered + Backlog <= docs.length, "input too small for another drain")
    parent = Trace.current
    try {
      mem.addData(docs.slice(offered, offered + Backlog).toSeq)
      offered += Backlog
      query.processAllAvailable()
    } finally parent = 0L
  }

  /** Starts the stream and drains the first backlog, so that the timed
    * runs commit to tables that already exist. */
  def warmup(spark: SparkSession): Unit = {
    mem = MemoryStream[Doc](Encoders.product[Doc], spark)
    query = mem.toDF().writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      Trace.within(parent) {
        span("bench", "batch") {
          applyAll(batch, id)
          batches.incrementAndGet(): Unit
        }
      }
    }.start()
    drain()
  }

  def measure(spark: SparkSession, budgetS: Double, minRuns: Int): Phase = {
    val (from, b0, c0) = (offered, batches.get, commits)
    val (runs, failed) = closedLoop(budgetS, minRuns,
      maxRuns = math.max(minRuns, (docs.length - offered) / Backlog))(_ => drain())
    phaseIds = docs.slice(from, offered).map(_.doc_id).toSet
    phaseRuns = math.max(1, runs.size)
    Phase(runs, runs.size + failed, failed, Map(
      "streaming.batches" -> (batches.get - b0).toDouble / phaseRuns,
      "streaming.rows_per_s" -> Backlog / math.max(1e-9, median(runs.map(_.runS))),
      "sources.commits" -> (commits - c0).toDouble / phaseRuns))
  }

  /** Versions committed so far over all the stream's tables. */
  private def commits: Long =
    Seq(roots.raw, roots.ndCorpus, roots.ndIndex, roots.ndQuar, roots.stats,
      roots.driftCorpus, roots.driftQuar, roots.windows).flatMap(Publish.currentVersion).sum

  private def ids(spark: SparkSession, root: String): Seq[Long] =
    if (Publish.currentVersion(root).isEmpty) Nil
    else Publish.read(spark, root).select("doc_id").distinct().collect().map(_.getLong(0)).toSeq

  /** Busy times per batch, from the traced spans; planning times from
    * the progress of batches that had input; admitted and quarantined
    * rows of the traced runs, per run. */
  override def traceExtra(spark: SparkSession, ls: Listeners): Map[String, Double] = {
    val batchSpans = Trace.all.filter(s => s.layer == "bench" && s.name == "batch")
    val n = math.max(1, batchSpans.size).toDouble
    val busy = Trace.all.filter(_.layer == "streaming").groupBy(_.name).map {
      case (k, xs) => s"streaming.$k.busy_ms" -> xs.map(_.seconds).sum * 1000 / n
    }
    val progress = ls.progress.asScala.toSeq.map(_.progress).filter(_.numInputRows > 0)
    def meanMs(key: String) = {
      val xs = progress.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue))
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val admitted = phaseIds intersect ids(spark, roots.ndCorpus).toSet intersect
      ids(spark, roots.driftCorpus).toSet
    busy ++ Map(
      "streaming.trigger_ms" -> meanMs("triggerExecution"),
      "streaming.wal_commit_ms" -> meanMs("walCommit"),
      "streaming.query_planning_ms" -> meanMs("queryPlanning"),
      "streaming.admitted_rows" -> admitted.size.toDouble / phaseRuns,
      "streaming.quarantined_rows" -> (phaseIds.size - admitted.size).toDouble / phaseRuns)
  }

  def check(spark: SparkSession): Check = {
    query.stop()
    query.awaitTermination()
    val ingestedDocs = docs.take(offered)
    val ingested = ingestedDocs.map(_.doc_id).toSet
    val notes = mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: => String): Unit = if (!ok) notes += what
    val rawRows = Publish.read(spark, roots.raw).count()
    expect(ids(spark, roots.raw).toSet == ingested && rawRows == ingested.size,
      s"raw append holds $rawRows rows, ${ingested.size} ingested")
    for ((gate, corpus, quar) <- Seq(("near-dup", roots.ndCorpus, roots.ndQuar),
        ("drift", roots.driftCorpus, roots.driftQuar))) {
      val (a, q) = (ids(spark, corpus).toSet, ids(spark, quar).toSet)
      expect((a union q) == ingested && (a intersect q).isEmpty,
        s"$gate: corpus ∪ quarantine ≠ ingested (${a.size} + ${q.size} vs ${ingested.size})")
    }
    val alien = ingestedDocs.filter(d => d.source == DriftSource && d.doc_id >= Backlog)
      .map(_.doc_id).toSet
    val driftQuar = ids(spark, roots.driftQuar).toSet
    expect(alien.nonEmpty && driftQuar == alien,
      s"drift quarantine holds ${driftQuar.size} rows, ${(driftQuar intersect alien).size} " +
        s"of the ${alien.size} alien $DriftSource rows")
    val pairs = Dedup.minhashLsh(Publish.read(spark, roots.ndCorpus), "doc_id", "text",
      numHashes = 16, bands = 4, n = 3).count()
    expect(pairs == 0, s"admitted corpus is not band-clean: $pairs candidate pairs")
    val windowed = ids(spark, roots.windows).toSet
    expect(windowed == ingested, s"windows cover ${windowed.size} of ${ingested.size} docs")
    Check(6, notes.size, notes.toSeq)
  }
}
