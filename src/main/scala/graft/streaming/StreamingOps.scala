package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed event row for the streaming API (matches the `events` table minus
  * the free-form props column). */
case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                 event_type: String, value: Double)

/** Open-session state carried across micro-batches (epoch millis). */
case class SessionState(startMs: Long, lastMs: Long, n: Int)

/** Closed session emitted on gap expiry / event-time timeout. */
case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long, n_events: Int)

/** Last-seen event per user carried across micro-batches (epoch millis +
  * event id for the total order, plus the type the next bigram starts
  * from). */
case class TransState(lastMs: Long, lastId: Long, lastType: String)

/** One consecutive (from → to) event-type bigram. */
case class TransitionOut(user_id: Long, from_type: String, to_type: String)

/** Structured Streaming twins of the batch event analytics
  * ([[graft.extensions.Events]]): watermarked tumbling windows and a
  * mapGroupsWithState sessionizer. The reference is pure batch (SURVEY.md
  * §2.5 — its only "checkpoint" is a hardcoded resume offset,
  * dblpXMLparser.scala:29); these give the engine the streaming surface on
  * the same query shapes.
  *
  * Scale: state per key is O(1) (one open session struct); watermark bounds
  * state retention; both operators shuffle once on their grouping key.
  */
object StreamingOps {

  /** Tumbling 1-hour windows per event type with a watermark — the streaming
    * twin of Events.eventsHourly. Append-safe: windows finalize when the
    * watermark passes their end. Values sum through DECIMAL like the batch
    * twin, so totals are exact and independent of micro-batch merge order. */
  def hourlyByType(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 10))).as("sum_dec"))
      .select(col("w").getField("start").as("hour"), col("event_type"),
        col("n_events"), round(col("sum_dec"), 2).cast("double").as("sum_value"))

  /** Daily OHLC per event type with a watermark — the streaming twin of
    * Events.eventsDailyOhlc. Open/close come from min_by/max_by on the
    * (ts, event_id) event-time order — DECLARATIVE aggregates, so the
    * state per (day, type) group is one candidate row each, merged
    * correctly across micro-batches in any arrival order (a row_number
    * formulation would need the whole window buffered). Windows finalize
    * once the watermark passes their end. */
  def dailyOhlc(events: DataFrame, watermark: String = "25 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 10))).as("sum_dec"))
      .select(col("w").getField("start").cast("date").as("day"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), round(col("sum_dec"), 2).cast("double").as("volume"))

  /** Stream-static enrichment join: the streaming fact against a static
    * (batch) dimension, broadcast so the stream side never shuffles —
    * stateless, no watermark needed, and each micro-batch sees the
    * dimension's current snapshot. The canonical "attach user/customer
    * attributes at ingest" stage in front of the stateful operators below. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Session windows with a 30-minute inactivity gap via
    * flatMapGroupsWithState + event-time timeout — the streaming twin of
    * Events.eventsSessions. Emits a SessionOut when a gap closes a session
    * (either a later event arrives past the gap, or the watermark times the
    * session out). */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
                 watermark: String = "2 hours"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, evs, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.startMs, s.lastMs, s.n))
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val ms = e.ts.getTime
              cur = cur match {
                case Some(s) if ms - s.lastMs <= gapMs =>
                  Some(s.copy(lastMs = math.max(s.lastMs, ms), n = s.n + 1))
                case Some(s) =>
                  closed += SessionOut(user, s.startMs, s.lastMs, s.n)
                  Some(SessionState(ms, ms, 1))
                case None =>
                  Some(SessionState(ms, ms, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // setTimeoutTimestamp rejects values at or before the current
              // watermark — a sufficiently late (replayed/backfilled) event
              // could have lastMs + gapMs behind it; clamp so the query
              // survives instead of dying on IllegalArgumentException.
              val wm = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(math.max(s.lastMs + gapMs, wm + 1))
            }
            closed.iterator
          }
      }
  }

  /** Streaming behavior-flow bigrams — the streaming twin of
    * Events.eventsTransitions: per user, every arriving event emits a
    * (from → to) pair with the PREVIOUS event's type, with the previous
    * event carried across micro-batches as O(1) state (one TransState per
    * user — type + position, never a buffered history). Events inside a
    * micro-batch are processed in (ts, event_id) order; an out-of-order
    * arrival BEHIND the state's position is dropped (documented semantics:
    * the operator is exact for feeds that respect the watermark's ordering
    * guarantee, and a late straggler cannot retroactively split an
    * already-emitted bigram). Downstream counting is a plain aggregation
    * over the emitted pairs. */
  def transitions(events: Dataset[Event],
                  watermark: String = "2 hours"): Dataset[TransitionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransitionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, evs, state) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[TransitionOut]
          var cur = state.getOption
          sorted.foreach { e =>
            val ms = e.ts.getTime
            cur match {
              case Some(s) if ms > s.lastMs || (ms == s.lastMs && e.event_id > s.lastId) =>
                out += TransitionOut(user, s.lastType, e.event_type)
                cur = Some(TransState(ms, e.event_id, e.event_type))
              case Some(_) => // behind the state's position: late arrival, dropped
              case None =>
                cur = Some(TransState(ms, e.event_id, e.event_type))
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming exact dedup: drop re-deliveries of the same id within the
    * watermark horizon (state = one entry per id, expired by watermark —
    * the bounded-state streaming twin of Dedup.dedupExact). Dedup is on the
    * id ALONE: a re-delivery with jittered event time is still a duplicate
    * (dropDuplicatesWithinWatermark keys state on the id and uses the
    * event-time column only for expiry). */
  def dedupStream(events: DataFrame, idCol: String = "event_id",
                  watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Streaming (user, type) THROTTLE — the kept-anchored twin of the batch
    * lag-based `Events.eventsDedupWindow`: the FIRST arrival of each
    * (user_id, event_type) is emitted and every re-fire of that key is
    * dropped while its state entry lives; watermark expiry re-admits the
    * key afterwards. State is one entry per distinct live key (bounded by
    * key cardinality × horizon, never the stream length). Batch/stream
    * semantic difference is inherent and documented: the batch form
    * measures the gap to the previous RAW event, this form to the previous
    * KEPT one — at ingestion the kept-anchored rule is the implementable
    * one, because earlier drops are no longer observable. */
  def throttleStream(events: DataFrame, watermark: String = "25 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream-STREAM interval join — click-to-view attribution with both
    * sides unbounded: every click pairs with that user's views from the
    * preceding hour. Both inputs carry watermarks and the join condition
    * bounds view_ts to [click_ts − 1h, click_ts], so Spark derives state
    * watermarks for BOTH sides and evicts matched/expired rows — state is
    * bounded by (watermark + interval), never the full history. The batch
    * as-of twin (Events.eventsAsofAttribution) keeps only the LATEST
    * qualifying view; streaming emits all qualifying pairs append-mode (a
    * downstream per-click max aggregation recovers the as-of row — kept
    * separate so the join stays append-only and stateless past the
    * watermark horizon). Feeding both branches from ONE input stream is a
    * streaming self-join — supported, each branch filters its event type. */
  def clickViewAttribution(events: DataFrame,
                           watermark: String = "2 hours"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    clicks.join(views,
        col("click_user") === col("user_id") &&
          col("view_ts") <= col("click_ts") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("view_id"), col("view_ts"))
  }

  /** Streaming decontamination SCREEN — the ingest-time twin of
    * `Dedup.dedupContaminationBloom`. Each arriving document's word-3-gram
    * shingle hashes are computed IN-ROW (higher-order functions, no explode)
    * and probed against the benchmark Bloom filter literal; the flag
    * thresholds the maybe-contaminated fraction. Completely STATELESS — no
    * state store, no watermark, works in append mode at any rate.
    *
    * Bloom semantics make this a sound screen: no false negatives means a
    * contaminated document can never pass unflagged; false positives only
    * inflate the fraction by ≤ fpp, so flagged docs are a SUPERSET of the
    * batch path's — route them to the exact batch confirm join, which is
    * cheap because the screen already discarded the clean bulk. */
  def contaminationScreen(docs: DataFrame, bloomBytes: Array[Byte],
                          tau: Double = 0.8): DataFrame = {
    import graft.functions.Portable
    import org.apache.spark.sql.graft.GraftBloom
    docs
      .select(col("doc_id"), Portable.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        transform(Portable.shingles3(col("toks")), s => Portable.hash60(s)).as("hs"))
      .select(col("doc_id"),
        size(col("hs")).cast("long").as("n_shingles"),
        size(filter(col("hs"),
          h => GraftBloom.mightContain(lit(bloomBytes), h))).cast("long").as("n_maybe"))
      .filter(col("n_shingles") > 0)
      .withColumn("maybe_fraction",
        round(col("n_maybe").cast("double") / col("n_shingles"), 6))
      .withColumn("flagged", col("maybe_fraction") >= tau)
  }

  /** Streaming WEEKDAY-ANOMALY screen — the monitor-side twin of
    * `Events.eventsWeekdayAnomaly`, completing the anomaly family's
    * batch-train / stream-score story: the per-(event_type, weekday)
    * baseline (`mu`, `sd`) is built in BATCH over history
    * (`Events.weekdayBaseline`) and BROADCAST into the arriving stream of
    * closed daily rollups (event_type, day, dmean) — e.g. [[dailyOhlc]]'s
    * finalized windows; each arriving day is scored statelessly against
    * ITS weekday's baseline with the identical rounded z-score and
    * threshold as the batch query. Same shape as [[contaminationScreen]]:
    * no state store, no watermark, append-safe at any rate — the stream
    * side never shuffles (broadcast join + per-row arithmetic).
    *
    * The deliberate split — train on history, score on arrivals — is how
    * production monitors run: the baseline refreshes on a batch cadence
    * (each micro-batch reads the CURRENT snapshot), while scoring latency
    * stays per-row. `StreamingSpec` proves day-replay parity with the
    * batch query. */
  def weekdayAnomalyScreen(dailyStream: DataFrame, baseline: DataFrame,
                           zThreshold: Double = graft.extensions.Events.WeekdayAnomalyZ): DataFrame =
    dailyStream
      .withColumn("dow", dayofweek(col("day")))
      .join(broadcast(baseline.select("event_type", "dow", "mu", "sd")),
        Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("dmean"), col("mu"), col("sd"),
        round((col("dmean") - col("mu")) / col("sd"), 6).as("z"))
      .filter(abs(col("z")) >= zThreshold)

  /** Streaming KNOWN-CONTENT media screen — the multimodal member of the
    * stateless-screen family ([[contaminationScreen]] for text,
    * [[weekdayAnomalyScreen]] for metrics): every arriving media record is
    * PERCEPTUALLY fingerprinted in-row (image aHash / audio envelope —
    * `Multimodal.mediaFingerprint`, the same kernels the batch near-dup
    * queries gate) and probed against a broadcast set of known-content
    * fingerprints (licensing block lists, already-ingested corpora,
    * policy-removed items). Perceptual matching is the point: a
    * brightness-shifted PNG re-encode of a known BMP still flags, where
    * byte hashing would wave it through (`StreamingSpec` pins exactly that
    * case). Stateless, no watermark, stream side never shuffles
    * (broadcast join + per-row decode); undecodable payloads flow
    * unflagged with a null fingerprint — the manifest lane, never a
    * query-killing exception. */
  def mediaFingerprintScreen(media: Dataset[graft.extensions.MediaRecord],
                             knownFps: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    val fps = media.mapPartitions { it =>
      it.map { m =>
        (m.media_id, m.mime, graft.extensions.Multimodal.mediaFingerprint(m.payload))
      }
    }.toDF("media_id", "mime", "fp")
    // distinct: a real block list repeats fingerprints across near-dup
    // known items; without it each arriving match fans out one row per
    // duplicate known entry
    fps.join(broadcast(knownFps.select("fp").distinct().withColumn("hit", lit(true))),
        Seq("fp"), "left")
      .select(col("media_id"), col("mime"), col("fp"),
        coalesce(col("hit"), lit(false)).as("flagged"))
  }

  /** foreachBatch bridge to any BATCH writer with replay-safe semantics:
    * each micro-batch lands in an epoch-stamped directory, so a replayed
    * epoch (restart between sink write and offset commit) OVERWRITES its
    * own previous attempt instead of duplicating rows — idempotent output,
    * the standard exactly-once recipe for sinks without transactions. */
  def writeEpochPartitioned(df: DataFrame, outDir: String,
                            checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
      }
      .start()

  /** Streaming MERGE into a [[graft.sources.LakeTable]] — the lakehouse
    * sink: every micro-batch upserts by key as one COW snapshot, and the
    * manifest chain doubles as the transaction log (each commit is tagged
    * `merge-epoch-N`), so a batch REPLAYED after a restart between the
    * table write and the offset commit finds its own epoch already
    * committed and no-ops — exactly-once table content without a
    * format-level transaction API. MERGE semantics are per-batch
    * single-row-per-key, as in every table format: a batch carrying
    * several rows for one key (or a null key) fails the query and
    * commits nothing, so CDC-shaped input must be compacted to
    * latest-per-key upstream ([[graft.ops.Relational.latestByKey]]). */
  def mergeIntoLake(updates: DataFrame, table: graft.sources.LakeTable,
                    checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // epoch tags are qualified by the CHECKPOINT identity (the txnAppId
    // pattern): epochs are monotone only within one offset log, so a query
    // restarted with a FRESH checkpoint (epochs restart at 0) must not
    // collide with — or early-exit against — the old run's tags
    val appId = java.lang.Long.toHexString(
      new org.apache.hadoop.fs.Path(checkpointDir).toString.hashCode
        & 0xffffffffL)
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        table.mergeEpoch(batch, epochId, appId)
        ()
      }
      .start()
  }

  /** STANDING materialized-view maintenance — [[graft.sources.LakeMv]]'s
    * refresh as a continuous query: tail EVERY participating relation's
    * manifest chain — the fact's AND each star-join dimension's (one
    * file-stream source per `_manifests` dir, unioned; each committed
    * manifest is one immutable rename-published file, so the union
    * observes exactly the combined commit sequence) — and run the
    * incremental refresh after every batch of new commits. A dim-only
    * update therefore triggers the dim-phase fold it makes pending,
    * instead of waiting for the next fact commit (a dashboard over a
    * slow fact with churning dims stays fresh). The trigger
    * carries no payload — the refresh reads the change feed itself and
    * is idempotent end to end (epoch-tagged fold, absolute group
    * values), so a replayed trigger batch, a missed-then-coalesced run
    * of commits, or a restart from the same checkpoint all converge to
    * the same state; even the checkpoint is only a politeness (a fresh
    * one merely re-triggers no-op refreshes; each unioned source keeps
    * its own per-file offset log under it). The streamed-epoch
    * discipline of `lake_mv_incremental`, productized for the catalog
    * MV verb. The dim set is pinned when the query STARTS (from the
    * MV's definition — which is itself immutable between CREATEs, so
    * the only drift is a REFRESH … FULL swap, after which restart the
    * standing query too). CHECKPOINT MIGRATION caveat: the number of
    * unioned sources is part of a streaming checkpoint's identity, so a
    * checkpoint written by the older fact-only form (or before a FULL
    * changed the dim count) refuses at restart with Spark's
    * source-count error — start the query with a FRESH checkpoint dir
    * then; nothing is lost, because the refresh is idempotent and reads
    * the change feeds itself (a fresh checkpoint merely re-triggers
    * no-op refreshes). */
  def standingMvRefresh(spark: org.apache.spark.sql.SparkSession,
                        name: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val d = graft.sources.LakeMv.parseDef(
      graft.sources.LakeCatalog.lookupMv(spark, name).getOrElse(
        throw new IllegalArgumentException(
          s"standingMvRefresh: no materialized view '$name' in the graft " +
            s"catalog (kind: ${graft.sources.LakeCatalog.kindOf(spark, name)})")))
    (d.baseRoot +: d.dims.map(_.root)).distinct
      .map(r => spark.readStream
        .format("text")
        .load(new org.apache.hadoop.fs.Path(r, "_manifests").toString
          + "/v*.json"))
      .reduce(_ union _)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (_: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.LakeMv.refresh(spark, name)
        ()
      }
      .start()
  }

  /** Stream a lake table's CHANGE FEED — the table-as-a-source direction,
    * the mirror of [[mergeIntoLake]]: tail the `_manifests` directory with
    * the file-stream source (each committed manifest is one immutable
    * rename-published file; the `v*.json` glob never matches dot-temp
    * files, so a partial commit is unobservable) and hand
    * `changes(v-1, v)` to `applyFeed` in VERSION ORDER for every newly
    * seen commit. The file source's per-file exactly-once tracking (offset
    * log under the checkpoint) means a restart resumes at the first unseen
    * manifest — no version is replayed, none is skipped: the manifest
    * chain doubles as a streamable CDC log with zero extra infrastructure.
    * Feed cost per commit is the manifest-diff slice (changed files only),
    * so a quiet table streams for free. The create commit (v0) has no
    * parent and emits nothing.
    *
    * MERGE-ON-READ versions (outstanding deferred-delete tombstones) are
    * first-class: `changes` is tombstone-aware, so a deferred delete's
    * events arrive with the deferred-delete commit itself — correct
    * per-commit attribution (the deletion-vector CDF shape), same
    * contract as [[graft.sources.LakeChangeFeedSource]]. VACUUMED
    * stretches are bridged: the next retained version's span diffs across
    * them, with the anchor recomputed from the manifest chain per
    * version, so a restart mid-stretch bridges identically.
    *
    * Prefer `spark.readStream.format("graft-lake").load(root)`
    * ([[graft.sources.LakeChangeFeedSource]]) for new code — same feed,
    * same skip contract, engine-managed offsets; this helper remains the
    * foreachBatch form for consumers that need the per-version callback. */
  def lakeChangesStream(spark: org.apache.spark.sql.SparkSession,
                        table: graft.sources.LakeTable, checkpointDir: String)
                       (applyFeed: (Int, DataFrame) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream
      .format("text")
      .load(new org.apache.hadoop.fs.Path(table.root, "_manifests").toString
        + "/v*.json")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val versions = batch
          .select(org.apache.spark.sql.functions.input_file_name().as("f"))
          .distinct().collect()
          .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName)
          .filter(_.matches("v\\d{5}\\.json"))
          .map(_.substring(1, 6).toInt).sorted
        versions.filter(_ > 0).foreach { v =>
          if (table.hasVersion(v)) {
            // nearest retained version at or below v-1: the direct parent
            // is the common case; a vacuumed stretch is bridged by
            // diffing across it. No anchor at all means history below v
            // was vacuumed wholesale — skip (documented contract).
            (v - 1 to 0 by -1).find(table.hasVersion)
              .foreach(a => applyFeed(v, table.changes(a, v)))
          }
        }
      }
      .start()

  /** Streaming ARCHIVE ingest — the bundle-arrival twin of the batch
    * `archive_ingest` lane: tail a directory with the `binaryFile` source
    * (new bundle files become micro-batches), sniff each payload's magic
    * (gzip → gunzip to tar; PK → zip walk; else ustar), extract in-row,
    * and emit the same member manifest the batch gate verifies. Stateless
    * flatMap on the stream side — no watermark, no shuffle; extraction
    * parallelism is arrival parallelism. A corrupt bundle becomes ONE
    * quarantine row (`member` null, `n_bytes` -1) instead of killing the
    * query — the decode-lane fallback discipline applied to streams. */
  def archiveIngestStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // the binaryFile source's schema is FIXED by the format; streaming
    // sources still demand it be stated, so state exactly that
    val binarySchema = StructType(Seq(
      StructField("path", StringType), StructField("modificationTime", TimestampType),
      StructField("length", LongType), StructField("content", BinaryType)))
    spark.readStream.format("binaryFile").schema(binarySchema).load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, p) =>
        // the same sniff-extract-quarantine helper the batch lanes use —
        // one discipline (incl. nested members + budget) in both modes
        graft.extensions.Multimodal.archiveManifestRows(p)
          .map { case (name, n, h) => (path, name, n, h) }
      }
      .toDF("path", "member", "n_bytes", "content_hash")
  }

  /** File-stream entry point: tail a DIRECTORY of event parquet files (file
    * sources monitor directories — new part files become new micro-batches).
    * The schema is pinned from a RAW batch read and the same ts repair
    * Tables.events applies is re-applied here, branched on what the files
    * declare (INT64 nanos under nanosAsLong for the older TIMESTAMP(NANOS)
    * generation; TIMESTAMP_NTZ for the current TIMESTAMP(MICROS) one) —
    * pinning the post-transform schema would make the parquet reader
    * reject the on-disk column at the first batch. */
  def readEventsStream(spark: SparkSession, eventsDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(eventsDir).schema
    val raw = spark.readStream.schema(rawSchema).parquet(eventsDir)
    rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
}
