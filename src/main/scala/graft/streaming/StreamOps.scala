package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators.
  *
  * The reference has NO event-time streaming (SURVEY.md §2.10) — its
  * solrj.io "streaming expressions" are sorted-tuple dataflow (reduce/
  * rank/unique/merge), covered by the batch stream_* queries, and its NRT
  * path (DirectoryReader.open(IndexWriter) + SearcherManager,
  * lucene/core/src/java/org/apache/lucene/index/DirectoryReader.java:85)
  * is near-real-time segment visibility. Here we provide the Spark-native
  * equivalents a training-data pipeline needs: watermarked event-time
  * windows, stateful sessionization, and micro-batch index append
  * (foreachBatch = the soft-commit analog: each batch is a new immutable
  * segment wave made visible to readers).
  */
object StreamOps {

  /** Watermarked tumbling-window count+sum per event_type. Late rows
    * beyond the watermark are dropped (the streaming-only semantic; on a
    * complete replay it equals the batch groupBy). */
  def windowedAgg(events: DataFrame, watermark: String = "10 minutes",
                  window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("sum_cents"))

  /** Trending terms over a document STREAM (the streaming analog of
    * HighFreqTerms / the "what's spiking this hour" pipeline op):
    * analyze text per row (zero-shuffle explode), watermarked
    * tumbling-window term counts. Top-k per window is a read-side query
    * over the windowed result — the aggregation itself is append-safe
    * under the watermark, so state is bounded by
    * (windows in watermark) x vocabulary. */
  def trendingTerms(docs: DataFrame, stop: Set[String] = Set.empty,
                    watermark: String = "10 minutes",
                    window_ : String = "1 hour"): DataFrame = {
    val toks = docs.select(col("ts"),
      explode(graft.functions.TextFns.tokensAll(col("text"))).as("term"))
    val filtered =
      if (stop.isEmpty) toks
      else toks.where(!col("term").isin(stop.toSeq: _*))
    filtered
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("term"), col("n"))
  }

  final case class Event(user_id: Long, ts: Timestamp, value: Double)
  final case class Session(user_id: Long, n: Long, sum_cents: Long,
                           first_ts: Timestamp, last_ts: Timestamp)
  /** Internal session state (public: Catalyst codegen must reach the
    * accessors of an Encoder-mapped class). */
  final case class SessionBuf(n: Long, sumCents: Long,
                              firstMs: Long, lastMs: Long)

  /** Stateful sessionization via mapGroupsWithState (the custom-state
    * extension point, KeyValueGroupedDataset): one open session per user,
    * closed after `gapMs` of event-time inactivity (processing-time
    * timeout drives emission in a real stream; for a finite replay the
    * final state is flushed on stream end). Emits one row per closed
    * session. */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuf, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[SessionBuf]) =>
          // finite-replay semantics: fold this batch's events in ts order,
          // closing a session whenever the gap exceeds gapMs
          val sorted = it.toArray.sortBy(e => (e.ts.getTime, e.value))
          val out = scala.collection.mutable.ArrayBuffer[Session]()
          var buf = state.getOption.orNull
          sorted.foreach { e =>
            val t = e.ts.getTime
            val cents = math.round(e.value * 100)
            if (buf == null) buf = SessionBuf(1, cents, t, t)
            else if (t - buf.lastMs > gapMs) {
              out += Session(uid, buf.n, buf.sumCents,
                new Timestamp(buf.firstMs), new Timestamp(buf.lastMs))
              buf = SessionBuf(1, cents, t, t)
            } else buf = SessionBuf(buf.n + 1, buf.sumCents + cents,
              buf.firstMs, t)
          }
          if (buf != null) state.update(buf)
          out.iterator
      }
  }

  /** Streaming index ingestion (NRT analog): each micro-batch of documents
    * (input_hint shape: repo, path, commit, lang, content) is appended as
    * an immutable delta sub-index; readers refresh via
    * [[graft.index.MultiIndexReader.open]] and see GLOBAL statistics over
    * base + deltas, so scores equal a from-scratch build. Batch docParts
    * are offset by basePartOffset + batchId * partsPerBatch, keeping docId
    * spaces disjoint; the commit generation's last batch id makes
    * foreachBatch retries idempotent. Caller starts/stops the returned query. */
  def indexAppendSink(docs: DataFrame, baseDir: String,
                      cfg: graft.index.IndexConfig, partsPerBatch: Int,
                      basePartOffset: Int): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val offset = basePartOffset + batchId.toInt * partsPerBatch
          val withPart = batch.withColumn("docPart",
            lit(offset) + pmod(hash(col("repo"), col("path"), col("commit")),
              lit(partsPerBatch)))
          graft.index.IndexBuilder.append(batch.sparkSession, withPart,
            baseDir, batchId,
            cfg.copy(numDocParts = offset + partsPerBatch))
          ()
        }
      }

  /** Streaming UPDATE sink (Solr update-handler semantics over
    * Structured Streaming): each micro-batch atomically REPLACES the
    * current version of every incoming (repo, path) key —
    * IndexBuilder.updateDocs tombstones the live versions and commits
    * the new ones as a delta sub-index. Monotone per-batch docPart
    * offsets make docIds monotone across batches, so realtimeGet's
    * max-docId rule always returns the latest committed version even for
    * a key updated in several batches. Stats converge at compact(). */
  def indexUpdateSink(docs: DataFrame, baseDir: String,
                      cfg: graft.index.IndexConfig, partsPerBatch: Int,
                      basePartOffset: Int): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val offset = basePartOffset + batchId.toInt * partsPerBatch
          val withPart = batch.withColumn("docPart",
            lit(offset) + pmod(hash(col("repo"), col("path"), col("commit")),
              lit(partsPerBatch)))
          graft.index.IndexBuilder.updateDocs(batch.sparkSession, baseDir,
            withPart, cfg.copy(numDocParts = offset + partsPerBatch))
          ()
        }
      }

  /** Flush state at end-of-replay: closed sessions from [[sessionize]]
    * plus every still-open session (what a timeout would eventually
    * emit). Batch-equivalent result for a finite input. */
  def sessionizeComplete(events: Dataset[Event], gapMs: Long): DataFrame = {
    import events.sparkSession.implicits._
    // batch reference implementation of the same semantics: a session
    // break is a gap > gapMs between consecutive events of one user
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "value")
    events.toDF()
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("brk",
        when(col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts")) > gapMs,
          1L).otherwise(0L))
      .withColumn("session_id", sum("brk").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        min("ts").as("first_ts"), max("ts").as("last_ts"))
      .drop("session_id")
  }

  /** Streaming exact dedup: the first event per key wins, duplicates
    * arriving later (but within the watermark horizon) are dropped, and
    * the per-key state is EVICTED once the watermark passes — bounded
    * state at any stream length, the property a plain
    * dropDuplicates(keys) on a stream does not have. This is the
    * streaming face of the batch `dedup_first`/`dedup_exact` operators
    * (training-data ingestion dedups at the door). */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)
}
